"""Merge-on-read deletes — the MOR twin of snapshots.py's
copy-on-write path (Iceberg v2 delete files / Delta deletion
vectors, rebuilt engine-native): a DELETE records METADATA (a range
predicate, or a set of keys) instead of rewriting data files;
readers subtract at scan time; a maintenance pass folds the
accumulated deletes into a clean rewrite when read amplification
grows. Reference parity: none — the reference deletes rows in place
in SQLite (database_integration.py's DELETE + VACUUM cron); this is
the delete that stays O(metadata) on an immutable-file store.

Two delete forms, matching how engines split them:

- RANGE deletes (``(lo, hi)`` on the clustering column): pure
  predicate log — deleting a billion rows writes ONE record. The
  planner classifies every file ``drop`` (its [min, max] sits fully
  inside a single delete range — the file is skipped without being
  opened), ``filter`` (intersects some range — scanned, rows
  subtracted) or ``keep`` (untouched by every range). Two adjacent
  ranges that only JOINTLY cover a file classify ``filter``, not
  ``drop`` — conservative and still exact, the scan just yields
  zero survivors.
- KEY deletes (equality deletes): a delete-key table; the read path
  anti-joins it (broadcast when dimension-sized). Key deletes are
  deliberately NOT range-planned — they are the "delete these 17
  documents" shape where ranges say nothing.

Trade against COW (both live in this repo on purpose):

- COW (``delete_where_cow``): pay a rewrite at delete time, reads
  stay pristine. Right for rare, large, range-aligned deletes.
- MOR (this module): pay ~nothing at delete time, every read pays
  the subtraction until ``fold_deletes`` materializes. Right for
  frequent small deletes (GDPR erasure, streaming retractions).

100 TB shape: the delete log is metadata-sized (collected once per
read — bounded by delete count, never row count); planning is a pure
manifest projection; ``drop`` files are pruned before I/O; the range
subtraction is a pushed-down scan predicate (shows up in
PushedFilters, costs nothing extra); the key anti-join broadcasts
the delete keys. ``fold_deletes`` rewrites ONLY filter-class files,
drops drop-class files without reading them, and carries the rest —
then the delete log resets to empty. Both folds (``fold_deletes``,
``fold_keys``) are a plan plus a row transform on the snapshot
table's one copy-on-write core, ``snapshots.cow_rewrite``, and
``fold_retractions`` commits through ``snapshots.commit_rewrite``,
so the retraction streams' batch watermarks survive the fold.

Driver-checked: ``q_mor_delete`` runs the REAL ``plan_mor_read``
classification over the fixed-width documents layout with two
in-plan derived ranges + a planted key-delete set, and accounts
surviving rows per file (drop files count zero without being
"read"). Filesystem semantics (read_mor == COW result, fold-in
equivalence, drop files never scanned, snapshot-versioned delete
logs) are pytest-locked in tests/test_mor.py.

10x probe (documents replicated 10x, 313 -> 5000 synthetic files;
medians of 3): q_mor_delete 0.52 -> 0.48 s — flat; planning is a
pure manifest projection, bounded by file count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .manifest import read_files
from .snapshots import (
    commit_rewrite,
    cow_rewrite,
    fresh_dir,
    plan_cow_merge,
    planned_rewrites,
    read_manifest,
    read_snapshot,
    snapshot_versions,
)


def _lit(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def plan_mor_read(
    manifest: DataFrame,
    col: str,
    ranges: list[tuple],
) -> DataFrame:
    """``manifest`` + ``action``: 'drop' when a SINGLE delete range
    fully covers the file's [min, max] (skip without opening),
    'filter' when any range intersects it, 'keep' otherwise. Pure
    projection, bounded by file count; range bounds may be Columns
    (the audit derives them in-plan)."""
    mn, mx = F.col(f"{col}_min"), F.col(f"{col}_max")
    covered = F.lit(False)
    hit = F.lit(False)
    for lo, hi in ranges:
        lo_c, hi_c = _lit(lo), _lit(hi)
        covered = covered | ((mn >= lo_c) & (mx <= hi_c))
        hit = hit | ((mx >= lo_c) & (mn <= hi_c))
    return manifest.withColumn(
        "action",
        F.when(covered, F.lit("drop"))
        .when(hit, F.lit("filter"))
        .otherwise(F.lit("keep")),
    )


def apply_deletes(
    df: DataFrame,
    col: str,
    ranges: list[tuple],
    keys: DataFrame | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """The read-side subtraction: drop rows inside any delete range
    (a conjunction of NOT BETWEENs — pushed down to the scan) and,
    when ``keys`` is given, anti-join the delete-key table
    (broadcast — delete keys are metadata-sized by assumption)."""
    out = df
    for lo, hi in ranges:
        out = out.filter(~F.col(col).between(_lit(lo), _lit(hi)))
    if keys is not None:
        k = key_col or col
        out = out.join(
            F.broadcast(keys.select(F.col(k).alias(k)).distinct()),
            [k],
            "left_anti",
        )
    return out


def read_mor(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    ranges: list[tuple],
    keys: DataFrame | None = None,
    key_col: str | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """The merged view: plan (drop-class files pruned BEFORE any
    I/O), read the rest, subtract. The planning collect is bounded
    by file count; literal ranges only (a read needs concrete
    bounds)."""
    plan = plan_mor_read(manifest, col, ranges)
    files = [
        r.file for r in plan.select("file", "action").collect()
        if r.action != "drop"
    ]
    # an empty manifest (fold_deletes dropped every file) raises
    rows = read_files(spark, manifest, files, base_path)
    return apply_deletes(rows, col, ranges, keys, key_col)


def fold_deletes(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    ranges: list[tuple],
    out_dir: str,
    keys: DataFrame | None = None,
    key_col: str | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """Materialize the delete log: drop-class files leave the
    manifest without being read, filter-class files are rewritten
    without their deleted rows (``snapshots.cow_rewrite``),
    keep-class rows pass through verbatim... except when
    KEY deletes exist, which respect no range: then keep-class files
    are rewritten too (they may hide deleted keys). Returns the new
    manifest; the caller's delete log is now empty."""
    actions = plan_mor_read(manifest, col, ranges).select("file", "action").collect()
    rewrite_classes = ("filter", "keep") if keys is not None else ("filter",)
    rewrite = [r.file for r in actions if r.action in rewrite_classes]
    dropped = [r.file for r in actions if r.action == "drop"]
    return cow_rewrite(
        spark,
        manifest.filter(~F.col("file").isin(dropped)),
        rewrite,
        lambda rows: apply_deletes(rows, col, ranges, keys, key_col),
        col,
        out_dir,
        base_path,
    )


# --- streaming retractions: the equality-delete log as a snapshot table


def latest_delete_keys(
    spark: SparkSession, delete_log: str, key_col: str
) -> DataFrame | None:
    """The accumulated delete-key set at the delete log's latest
    committed version, or None when the log is empty / freshly
    reset. The delete log is just an append-only snapshot table of
    keys — ``snapshots.snapshot_append_writer`` IS the retraction
    stream's exactly-once sink; nothing new to build."""
    if not snapshot_versions(spark, delete_log):
        return None
    if read_manifest(spark, delete_log).limit(1).count() == 0:
        return None
    return read_snapshot(spark, delete_log).select(key_col).distinct()


def live_view(
    spark: SparkSession,
    data_log: str,
    delete_log: str,
    key_col: str,
    base_path: str | None = None,
) -> DataFrame:
    """The merged read over two snapshot logs: latest data snapshot
    minus the accumulated delete keys (broadcast anti-join —
    retraction sets are metadata-sized). Each log pins its own
    latest committed version; deletes are monotone between folds, so
    the pair is always consistent-forward."""
    df = read_snapshot(spark, data_log, base_path=base_path)
    keys = latest_delete_keys(spark, delete_log, key_col)
    if keys is None:
        return df
    return df.join(F.broadcast(keys), [key_col], "left_anti")


def fold_keys(
    spark: SparkSession,
    manifest: DataFrame,
    keys: DataFrame,
    key_col: str,
    out_dir: str,
    base_path: str | None = None,
) -> DataFrame:
    """Materialize an equality-delete set: files whose [min, max]
    cannot hold any delete key carry verbatim (plan_cow_merge's
    range classification, reused — same invariant, pointed at
    deletes), the rest are rewritten without the keyed rows. Returns
    the new manifest."""
    return cow_rewrite(
        spark,
        manifest,
        planned_rewrites(plan_cow_merge(manifest, key_col, keys)),
        lambda rows: apply_deletes(rows, key_col, [], keys=keys, key_col=key_col),
        key_col,
        out_dir,
        base_path,
    )


def fold_retractions(
    spark: SparkSession,
    data_log: str,
    delete_log: str,
    key_col: str,
    out_dir: str,
    base_path: str | None = None,
) -> dict:
    """The maintenance tick for a retraction pair: fold the delete
    log's keys into a fresh data snapshot, then commit an EMPTY
    delete snapshot so readers stop paying the anti-join. Single-
    maintainer discipline like snapshots.maintain — retractions
    arriving mid-fold land in their own delete version and survive
    for the next fold (the empty reset is a new version, it never
    rewrites theirs). Old data versions still time-travel to the
    deleted rows until expired. The folded data lands in
    ``fresh_dir(out_dir)``, and both commits carry their log's batch
    watermark (``commit_rewrite``): the streams' replay guards must
    survive expire_snapshots, or a replayed batch would overwrite a
    data directory the folded manifest still references. Returns a
    small audit dict."""
    keys = latest_delete_keys(spark, delete_log, key_col)
    if keys is None:
        return {"mode": "noop", "data_version": None, "delete_version": None}
    folded = fold_keys(
        spark,
        read_manifest(spark, data_log),
        keys,
        key_col,
        fresh_dir(out_dir),
        base_path,
    )
    v_data = commit_rewrite(spark, data_log, folded)
    empty = read_manifest(spark, delete_log).limit(0)
    v_del = commit_rewrite(spark, delete_log, empty)
    return {"mode": "folded", "data_version": v_data, "delete_version": v_del}


# --- driver oracle: MOR planning + survivor accounting -----------------

#: docs per synthetic file (matches snapshots._COW_FILE_ROWS)
_FILE_ROWS = 16

#: the planted key-delete set: doc_id % 31 == 7
_KEY_MOD, _KEY_REM = 31, 7


def mor_delete_audit(docs: DataFrame) -> DataFrame:
    """(file_id, n_before, id_min, id_max, action, n_after): the
    merge-on-read plan over the fixed-width ``documents`` layout
    under TWO in-plan delete ranges — [2/8, 3/8] and [6/8, 7/8] of
    the doc_id span — plus the key-delete set ``doc_id % 31 == 7``.
    The REAL plan_mor_read classifies; n_after counts rows outside
    both ranges and off the key set (zero for drop files — those are
    never opened, and the audit proves the planner knows it). Key
    deletes deliberately shrink keep-class files too: MOR's read
    cost, visible in the accounting."""
    bounds = docs.agg(
        F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi")
    ).select(
        F.expr("__lo + (2 * (__hi - __lo)) DIV 8").alias("__r1lo"),
        F.expr("__lo + (3 * (__hi - __lo)) DIV 8").alias("__r1hi"),
        F.expr("__lo + (6 * (__hi - __lo)) DIV 8").alias("__r2lo"),
        F.expr("__lo + (7 * (__hi - __lo)) DIV 8").alias("__r2hi"),
    )
    in_r1 = F.col("doc_id").between(F.col("__r1lo"), F.col("__r1hi"))
    in_r2 = F.col("doc_id").between(F.col("__r2lo"), F.col("__r2hi"))
    keyed = (F.col("doc_id") % _KEY_MOD) == _KEY_REM
    per_file = (
        docs.crossJoin(F.broadcast(bounds))
        .withColumn("file_id", F.expr(f"doc_id DIV {_FILE_ROWS}"))
        .groupBy("file_id", "__r1lo", "__r1hi", "__r2lo", "__r2hi")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.sum(
                F.when(in_r1 | in_r2 | keyed, F.lit(0)).otherwise(F.lit(1))
            ).alias("n_survive"),
        )
    )
    planned = plan_mor_read(
        per_file,
        "doc_id",
        [
            (F.col("__r1lo"), F.col("__r1hi")),
            (F.col("__r2lo"), F.col("__r2hi")),
        ],
    )
    return planned.select(
        "file_id",
        "n_before",
        F.col("doc_id_min").alias("id_min"),
        F.col("doc_id_max").alias("id_max"),
        "action",
        F.when(F.col("action") == "drop", F.lit(0).cast("long"))
        .otherwise(F.col("n_survive"))
        .cast("long")
        .alias("n_after"),
    )


_MOR_ORACLE = f"""
WITH b AS (
  SELECT min(doc_id) + (2 * (max(doc_id) - min(doc_id))) // 8 AS r1lo,
         min(doc_id) + (3 * (max(doc_id) - min(doc_id))) // 8 AS r1hi,
         min(doc_id) + (6 * (max(doc_id) - min(doc_id))) // 8 AS r2lo,
         min(doc_id) + (7 * (max(doc_id) - min(doc_id))) // 8 AS r2hi
  FROM documents
),
per_file AS (
  SELECT doc_id // {_FILE_ROWS} AS file_id,
         CAST(count(*) AS BIGINT) AS n_before,
         min(doc_id) AS id_min,
         max(doc_id) AS id_max,
         CAST(sum(CASE WHEN doc_id BETWEEN (SELECT r1lo FROM b)
                                       AND (SELECT r1hi FROM b)
                        OR doc_id BETWEEN (SELECT r2lo FROM b)
                                       AND (SELECT r2hi FROM b)
                        OR doc_id % {_KEY_MOD} = {_KEY_REM}
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_survive
  FROM documents GROUP BY file_id
),
classed AS (
  SELECT *,
         ((id_min >= (SELECT r1lo FROM b) AND id_max <= (SELECT r1hi FROM b))
          OR (id_min >= (SELECT r2lo FROM b) AND id_max <= (SELECT r2hi FROM b)))
           AS covered,
         ((id_max >= (SELECT r1lo FROM b) AND id_min <= (SELECT r1hi FROM b))
          OR (id_max >= (SELECT r2lo FROM b) AND id_min <= (SELECT r2hi FROM b)))
           AS hit
  FROM per_file
)
SELECT file_id, n_before, id_min, id_max,
       CASE WHEN covered THEN 'drop'
            WHEN hit THEN 'filter'
            ELSE 'keep' END AS action,
       CASE WHEN covered THEN 0 ELSE n_survive END AS n_after
FROM classed
"""


@query("q_mor_delete", oracle=_MOR_ORACLE)
def q_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read delete planning + survivor accounting: per
    synthetic file, the REAL plan_mor_read three-way classification
    (drop / filter / keep) under two in-plan ranges, with surviving
    rows after ranges AND the planted key-delete set — drop files
    account zero without being opened, keep files still shrink under
    key deletes (the MOR read cost, made visible). The oracle
    reproduces the span arithmetic, the single-range-coverage rule
    and the survivor predicate exactly."""
    from ..catalog import load

    return mor_delete_audit(load(spark, sf_dir, "documents"))
