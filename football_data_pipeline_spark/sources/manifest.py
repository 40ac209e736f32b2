"""File-manifest data skipping — Iceberg/Delta-style min/max pruning
for plain Parquet directories.

Directory partitioning (sinks.py) prunes on the PARTITION column
only; row-group statistics prune WITHIN files the scan already
opened. The gap at 100 TB is BETWEEN: a table of 100k files where a
range predicate on a clustered column (event time, doc_id range of a
shard) could skip 99% of the files before the scan plans a single
split. Table formats solve this with a manifest — a tiny table of
per-file column min/max — consulted at planning time. This module is
that manifest for the engine's plain-Parquet layout:

- ``build_manifest``: one pass over the table grouping by
  ``input_file_name()`` → per-file row count and min/max per tracked
  column. At 100 TB you build it incrementally (per written file at
  write time — ``write_training_shards`` sorts shards, which is what
  makes the min/max TIGHT and pruning effective); a full rebuild is
  still one scan-shaped aggregate.
- ``pruned_read``: given a closed range [lo, hi] on a tracked
  column, select the files whose [min, max] intersects it (a
  driver-side filter over the manifest — bounded by FILE count, the
  same planning-time work Iceberg does), read only those paths, and
  re-apply the exact predicate (the manifest is an overapproximation
  by construction, so correctness never depends on it — identical
  rows to the full scan + filter, proven in
  tests/test_manifest.py against a 16-file clustered table).

The prune is sound for stale manifests only in one direction (files
ADDED after the build are missed); ``pruned_read`` therefore takes
the manifest as an explicit argument and the caller owns its
freshness, exactly like a table format's snapshot pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Per-file stats table: (file, n_rows, <c>_min, <c>_max per
    tracked column). One hash aggregate keyed by file — at most
    one output row per input file."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return (
        df.withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(*aggs)
    )


def tracked_columns(manifest: DataFrame) -> list[str]:
    """The columns a manifest tracks, sorted: every ``c`` with both
    ``<c>_min`` and ``<c>_max`` (build_manifest's naming). A rewrite
    re-measures its new files on exactly these, so the fresh rows
    union onto the carried ones."""
    cols = set(manifest.columns)
    return sorted(
        c[: -len("_min")]
        for c in cols
        if c.endswith("_min") and f"{c[:-len('_min')]}_max" in cols
    )


def read_files(
    spark: SparkSession,
    manifest: DataFrame,
    files: list[str],
    base_path: str | None = None,
) -> DataFrame:
    """``files`` (some of ``manifest``'s) as one frame; ``base_path``
    recovers directory-encoded partition columns (Spark's basePath).
    No files reads zero rows of the table's schema, taken from any
    one manifest file; an empty manifest has no schema to offer and
    raises read_snapshot's ValueError."""
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    if files:
        return reader.parquet(*files)
    any_file = manifest.select("file").first()
    if any_file is None:
        raise ValueError("snapshot has an empty manifest")
    return reader.parquet(any_file.file).filter(F.lit(False))


def prune_files(
    manifest: DataFrame, col: str, lo, hi
) -> list[str]:
    """Planning-time file selection: paths whose [min, max] range
    intersects [lo, hi]. The collect is bounded by the table's FILE
    count (manifest rows), never its row count."""
    rows = (
        manifest.filter(
            (F.col(f"{col}_max") >= F.lit(lo))
            & (F.col(f"{col}_min") <= F.lit(hi))
        )
        .select("file")
        .collect()
    )
    return [r.file for r in rows]


def pruned_read(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
    base_path: str | None = None,
) -> DataFrame:
    """Rows with ``col BETWEEN lo AND hi``, reading only the files
    the manifest cannot rule out. Row-identical to the full
    scan + filter: the predicate is re-applied after the file-level
    prune (files are an overapproximation), and an empty survivor
    set yields an empty frame of the manifest's table schema.

    Directory-partitioned layouts (ADVICE r5): the manifest holds
    bare file paths, and reading individual files drops the
    partition columns encoded in the directory names — pass the
    table root as ``base_path`` and the read recovers them via
    Spark's ``basePath`` option (parity asserted in
    tests/test_manifest.py on a partitioned table). Leaving it None
    is only sound on an unpartitioned (flat) layout.
    """
    files = prune_files(manifest, col, lo, hi)
    predicate = F.col(col).between(F.lit(lo), F.lit(hi))
    return read_files(spark, manifest, files, base_path).filter(predicate)


