"""Sinks: snapshot/report JSON writers, partitioned silver tables,
retention rewrite (SURVEY.md §2.1 S3/S5/S6/S7).

The reference writes per-collection JSON snapshot files
(yml:330-339), small JSON reports (weekly report, dashboard data,
health, API usage, mapping stats — yml:777,928,568,996,1077), and
runs a daily retention DELETE + VACUUM (yml:661-680). Here:

- silver tables are Parquet partitioned by the snapshot DATE —
  the Spark replacement for the reference's ``idx_odds_collected``
  B-tree (SURVEY.md §4.1): time-range predicates become partition
  pruning, and within-partition row groups carry (fixture_id,
  market_type) min/max stats for skipping;
- snapshot/report sinks are plain JSON writes (reports coalesce to
  one file — they are dim-sized by construction; snapshots keep
  their natural parallelism);
- retention rewrites the table to its surviving rows through
  ``rewrite_table`` — on plain Parquet the portable equivalent of
  ``DELETE WHERE ts < cutoff`` + VACUUM: expired partitions and their
  files are gone afterwards, and the table keeps its partition layout;
- ``rewrite_table`` is the engine's one in-place rewrite of a
  plain-Parquet table (retention here, the streaming pipeline's keyed
  dim merges): the new contents land in a sibling directory that is
  renamed into place, so a crash at any point leaves a recoverable
  table.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: partition column added to silver facts (string yyyy-MM-dd, the
#: Hive-friendly form of to_date(collected_at))
PARTITION_COL = "snapshot_date"


def with_snapshot_date(df: DataFrame, ts_col: str = "collected_at") -> DataFrame:
    return df.withColumn(PARTITION_COL, F.date_format(F.col(ts_col), "yyyy-MM-dd"))


def write_silver(
    df: DataFrame, path: str, ts_col: str = "collected_at", mode: str = "append"
) -> None:
    """S4/S7 write side: date-partitioned Parquet fact table.
    ``mode="overwrite"`` supports idempotent batchId-keyed writes
    (streaming/pipeline.py) — the caller scopes ``path`` to the unit
    being replaced."""
    with_snapshot_date(df, ts_col).write.mode(mode).partitionBy(PARTITION_COL).parquet(path)


def write_snapshot_json(df: DataFrame, path: str) -> None:
    """S3: collection-snapshot JSON files (one dir per snapshot)."""
    df.write.mode("overwrite").json(path)


def write_report_json(df: DataFrame, path: str) -> None:
    """S5: small JSON report — reports are aggregate-sized, so a
    single output file is deliberate (downstream is a dashboard, not
    an engine)."""
    df.coalesce(1).write.mode("overwrite").json(path)


def _fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem holding ``path`` and Hadoop's ``Path``
    constructor. Hadoop FS rather than os.path, so HDFS and
    object-store roots behave like local ones."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def rewrite_table(
    spark: SparkSession,
    path: str,
    rewrite: Callable[[DataFrame | None], DataFrame],
) -> None:
    """Replace the plain-Parquet table at ``path`` with
    ``rewrite(current)``, crash-safely. ``current`` is the table as
    it stands, or None when there is no table at ``path`` yet.

    1. A crash between the two renames of step 5 left the only copy
       at ``<path>.__merge_old__``: rename it back first. Deleting it
       as a leftover would destroy the table, and reading the missing
       path as "absent" would rebuild it from the new rows alone.
    2. Refuse a path carrying ``_delta_log``: a parquet rewrite would
       resurrect rows tombstoned by Delta commits and corrupt the log.
    3. Read the current table when the path exists. A table that
       exists but cannot be read raises; it is never taken as absent.
    4. Write the new contents to the sibling ``<path>.__merge_tmp__``,
       partitioned by the current table's partition columns. The
       original stays untouched, so the plan may read it lazily.
    5. Move the original aside, rename the sibling into place, delete
       the original.

    A crash before step 5 leaves the original in place (the next call
    deletes the stale sibling); a crash inside step 5 leaves the
    ``__merge_old__`` orphan that step 1 of the next call restores.
    On an object store a directory rename is a copy, so there the
    window of step 5 lasts as long as that copy.
    """
    fs, hpath = _fs(spark, path)
    base = path.rstrip("/")
    tmp, old = base + ".__merge_tmp__", base + ".__merge_old__"
    if not fs.exists(hpath(base)) and fs.exists(hpath(old)):
        if not fs.rename(hpath(old), hpath(base)):
            raise RuntimeError(f"recovery failed: could not rename {old} back to {base}")
    if fs.exists(hpath(base + "/_delta_log")):
        raise RuntimeError(
            f"{base} carries a _delta_log (a Delta table); refusing the "
            "plain-parquet rewrite (it would resurrect tombstoned rows "
            "and corrupt the log)"
        )
    current, partition_cols = None, []
    if fs.exists(hpath(base)):
        current = spark.read.parquet(base)
        relation = current._jdf.queryExecution().analyzed().relation()
        partition_cols = list(relation.partitionSchema().fieldNames())
    for leftover in (tmp, old):
        if fs.exists(hpath(leftover)):
            fs.delete(hpath(leftover), True)
    rewrite(current).write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    if current is not None and not fs.rename(hpath(base), hpath(old)):
        raise RuntimeError(f"swap failed: could not rename {base} aside")
    if not fs.rename(hpath(tmp), hpath(base)):
        if current is not None:
            fs.rename(hpath(old), hpath(base))  # never leave the table missing
        raise RuntimeError(f"swap failed: could not move {tmp} into place")
    fs.delete(hpath(old), True)


def apply_retention(
    spark: SparkSession, path: str, cutoff: Column, ts_col: str = "collected_at"
) -> None:
    """S7: delete the rows older than ``cutoff`` from a silver table
    by rewriting it to its survivors (``rewrite_table``). Every
    partition is rewritten, so fully expired partitions and their
    files are gone afterwards and an unbounded read returns no
    expired row; the table keeps its partition layout (the
    pipeline's ``batch_id=N/snapshot_date=D`` included).

    The portable plain-Parquet analogue of Delta ``DELETE FROM t
    WHERE ts < cutoff`` + ``VACUUM`` (yml:661-680).
    """

    def survivors(table: DataFrame | None) -> DataFrame:
        if table is None:
            raise FileNotFoundError(f"no table at {path}")
        return table.filter(F.col(ts_col) >= cutoff)

    rewrite_table(spark, path, survivors)


def write_training_shards(
    docs: DataFrame,
    path: str,
    epoch: int = 0,
    max_records_per_file: int = 100_000,
) -> None:
    """Materialize a training epoch as ordered shard files — the
    production write path whose queryable twin is
    ``operators/ordering.epoch_order`` (same md5 shard membership and
    shuffle keys; that module's docstring explains the determinism
    contract).

    Plan shape: ONE hash exchange (`repartition` on the shard id)
    followed by ``sortWithinPartitions`` on the shuffle key: no
    window, no rank, no global sort. Hash partitioning guarantees
    ALL rows of a shard land in one task — the property the ordering
    needs (a shard split across tasks would interleave two sorted
    runs) — but NOT a 1:1 task↔shard mapping: hash collisions leave
    some tasks empty and give others 2+ shards (with N_SHARDS values
    into N_SHARDS partitions a perfect spread is ~0.2% likely).
    ``partitionBy("shard")`` splits a multi-shard task into per-shard
    directories, so correctness is unaffected; for write BALANCE at
    scale, set shard count ≳ 3-4× cores so collisions average out —
    shard count scales with the corpus anyway. ``maxRecordsPerFile``
    splits each shard into bounded files WITHOUT breaking order
    (Spark rolls to the next file sequentially within the task): the
    small-files fix and the ordering guarantee in one write, and a
    training loader replaying (shard, file, row) order sees the
    exact epoch_order permutation.
    """
    from ..operators.ordering import N_SHARDS  # shared geometry

    keyed = docs.select(
        "*",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % N_SHARDS
        ).alias("shard"),
        F.md5(
            F.concat(
                F.lit(f"ep{epoch}:"),
                F.col("doc_id").cast("string"),
            )
        ).alias("shuffle_key"),
    )
    # sort key starts with the partition column: FileFormatWriter
    # requires output ordered by partition columns and ADDS ITS OWN
    # (order-destroying) sort when they are not a prefix of the
    # existing ordering — with the prefix in place it reuses ours
    (
        keyed.repartition(N_SHARDS, "shard")
        .sortWithinPartitions("shard", "shuffle_key", "doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard")
        .parquet(path)
    )
