"""Partition transforms + transform-aware pruning — Iceberg's hidden
partitioning, engine-native: the table is laid out by DERIVED
partition values (``truncate(W, col)`` width-buckets, ``bucket(N,
col)`` hash-buckets), queries keep filtering on the SOURCE column,
and the planner maps source predicates to partition predicates so
directory pruning happens without the user ever naming a partition.
Reference parity: none — scale extension. This completes the
engine's data-skipping family, each member covering what the others
cannot: min/max ranges (manifest.py) need clustering; z-order
(zorder.py) buys 2-D boxes by reordering; blooms (bloomskip.py) buy
point lookups without reordering; partition transforms buy
DIRECTORY-level pruning that survives any within-file order and
composes with all of the above.

Predicate mapping (the part that must be exactly right):

- equality ``col = v``: every transform of v pins its partition —
  truncate dims AND bucket dims prune (the conjunction).
- range ``col BETWEEN lo AND hi``: truncate is order-preserving, so
  the truncate dim prunes to [truncate(lo), truncate(hi)]; a hash
  bucket is order-DESTROYING, so bucket dims prune nothing for a
  range (the mapper returns TRUE for them — returning anything
  narrower would be wrong, and this module would rather scan than
  lie).

The bucket hash is the engine-PORTABLE multiplicative family from
bloomskip.py (mod 2^31 - 1) rather than xxhash64 — same reason as
there: the oracle must be able to compute every bucket number, so
partition placement itself is driver-checkable. (skew.hash_bucket
keeps xxhash64 for salting, where no oracle ever needs the value.)

100 TB shape: partition values are pure projections at write;
pruning is a planning-time directory cut (Spark shows it as
PartitionFilters — zero data touched for skipped partitions); the
residual source-column filter is always re-applied on survivors
(pruned_read's soundness contract). Bucket counts bound partition
fan-out under unbounded key domains — the standard ingest answer to
"partition by customer id" blowing up the namespace.

Driver-checked: ``q_partition_prune`` classifies every (truncate,
bucket) grid cell of a synthetic documents layout against an
equality probe and a range probe (both derived in-plan), using the
REAL transform and predicate-mapper functions; the oracle recomputes
truncate/bucket arithmetic and both mappings exactly. Filesystem
semantics (real partitioned writes, PartitionFilters in the plan,
read parity) are pytest-locked in tests/test_partitions.py.

10x probe (documents replicated 10x; medians of 3):
q_partition_prune 0.45 -> 0.44 s — flat; the grid is bounded by
partition count, the probes by the predicate set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .bloomskip import HASH_A, HASH_B, HASH_P

#: a partition spec is a list of (kind, source_col, param, name)
#: with kind in TRANSFORMS
TRANSFORMS = ("truncate", "bucket")


def truncate_transform(col: Column, width: int) -> Column:
    """Iceberg truncate for integers: the greatest multiple of
    ``width`` <= col. Order-preserving — ranges prune."""
    return (col - F.pmod(col, F.lit(width))).cast("long")


def bucket_transform(col: Column, n: int) -> Column:
    """Portable hash bucket in [0, n) — bloomskip's multiplicative
    family, first member. Order-destroying — only equality prunes."""
    kk = F.pmod(col.cast("long"), F.lit(HASH_P))
    return F.pmod(
        F.pmod(kk * F.lit(HASH_A[0]) + F.lit(HASH_B[0]), F.lit(HASH_P)),
        F.lit(n),
    ).cast("long")


def _transform(kind: str, col: Column, param: int) -> Column:
    if kind == "truncate":
        return truncate_transform(col, param)
    if kind == "bucket":
        return bucket_transform(col, param)
    raise ValueError(f"unknown transform {kind!r}; use one of {TRANSFORMS}")


def partition_columns(spec: list[tuple]) -> dict[str, Column]:
    """name -> derived partition Column for a spec."""
    return {
        name: _transform(kind, F.col(src), param)
        for kind, src, param, name in spec
    }


def eq_partition_filter(spec: list[tuple], src: str, value) -> Column:
    """The partition-space predicate equivalent to ``src = value``:
    every transform of the value pins its dimension."""
    v = value if isinstance(value, Column) else F.lit(value)
    pred = F.lit(True)
    for kind, col, param, name in spec:
        if col == src:
            pred = pred & (F.col(name) == _transform(kind, v, param))
    return pred


def range_partition_filter(spec: list[tuple], src: str, lo, hi) -> Column:
    """The partition-space predicate equivalent to ``src BETWEEN lo
    AND hi``: truncate dims prune to [truncate(lo), truncate(hi)];
    bucket dims contribute TRUE (a hash destroys order — claiming
    otherwise would drop rows)."""
    lo_c = lo if isinstance(lo, Column) else F.lit(lo)
    hi_c = hi if isinstance(hi, Column) else F.lit(hi)
    pred = F.lit(True)
    for kind, col, param, name in spec:
        if col == src and kind == "truncate":
            pred = pred & F.col(name).between(
                truncate_transform(lo_c, param),
                truncate_transform(hi_c, param),
            )
    return pred


# --- driver oracle: grid classification audit ---------------------------

_TRUNC_W = 64
_BUCKET_N = 8
_SPEC = [
    ("truncate", "doc_id", _TRUNC_W, "p_trunc"),
    ("bucket", "doc_id", _BUCKET_N, "p_bucket"),
]


def partition_prune_audit(docs: DataFrame) -> DataFrame:
    """(p_trunc, p_bucket, n_rows, eq_scan, range_scan, n_match_eq,
    n_match_range): every cell of the truncate(64) x bucket(8) grid
    over ``documents``, classified by the REAL predicate mappers
    against an equality probe (k = 5/8 of the span) and a range
    probe ([2/8, 3/8] of the span) — both derived in-plan. eq pins
    BOTH dims (one cell scans); range pins only the truncate dim
    (every bucket of the covered widths scans — the order-destroying
    hash, priced honestly). Match counts prove the scan sets are
    supersets of the true rows."""
    bounds = docs.agg(
        F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi")
    ).select(
        F.expr("__lo + (5 * (__hi - __lo)) DIV 8").alias("__k"),
        F.expr("__lo + (2 * (__hi - __lo)) DIV 8").alias("__rlo"),
        F.expr("__lo + (3 * (__hi - __lo)) DIV 8").alias("__rhi"),
    )
    staged = docs.crossJoin(F.broadcast(bounds)).withColumns(
        partition_columns(_SPEC)
    )
    cells = staged.groupBy("p_trunc", "p_bucket", "__k", "__rlo", "__rhi").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("doc_id") == F.col("__k"), 1).otherwise(0))
        .cast("long")
        .alias("n_match_eq"),
        F.sum(
            F.when(
                F.col("doc_id").between(F.col("__rlo"), F.col("__rhi")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_match_range"),
    )
    flagged = cells.withColumns(
        {
            "eq_scan": eq_partition_filter(_SPEC, "doc_id", F.col("__k")),
            "range_scan": range_partition_filter(
                _SPEC, "doc_id", F.col("__rlo"), F.col("__rhi")
            ),
        }
    )
    return flagged.select(
        "p_trunc",
        "p_bucket",
        "n_rows",
        "eq_scan",
        "range_scan",
        "n_match_eq",
        "n_match_range",
    )


def _part_oracle() -> str:
    bucket = (
        f"(((doc_id % {HASH_P}) * {HASH_A[0]} + {HASH_B[0]}) % {HASH_P})"
        f" % {_BUCKET_N}"
    )
    kbucket = (
        f"(((k % {HASH_P}) * {HASH_A[0]} + {HASH_B[0]}) % {HASH_P})"
        f" % {_BUCKET_N}"
    )
    return f"""
    WITH b AS (
      SELECT min(doc_id) + (5 * (max(doc_id) - min(doc_id))) // 8 AS k,
             min(doc_id) + (2 * (max(doc_id) - min(doc_id))) // 8 AS rlo,
             min(doc_id) + (3 * (max(doc_id) - min(doc_id))) // 8 AS rhi
      FROM documents
    ),
    cells AS (
      SELECT CAST(doc_id - (doc_id % {_TRUNC_W}) AS BIGINT) AS p_trunc,
             CAST({bucket} AS BIGINT) AS p_bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN doc_id = (SELECT k FROM b)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_match_eq,
             CAST(sum(CASE WHEN doc_id BETWEEN (SELECT rlo FROM b)
                                           AND (SELECT rhi FROM b)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_match_range
      FROM documents GROUP BY 1, 2
    )
    SELECT p_trunc, p_bucket, n_rows,
           (p_trunc = (SELECT k - (k % {_TRUNC_W}) FROM b)
            AND p_bucket = (SELECT {kbucket} FROM b)) AS eq_scan,
           (p_trunc BETWEEN (SELECT rlo - (rlo % {_TRUNC_W}) FROM b)
                        AND (SELECT rhi - (rhi % {_TRUNC_W}) FROM b))
             AS range_scan,
           n_match_eq, n_match_range
    FROM cells
    """


@query("q_partition_prune", oracle=_part_oracle())
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-partitioning predicate mapping over the truncate x
    bucket grid: the equality probe pins one cell (both transforms
    prune), the range probe pins truncate widths only (hash buckets
    scan — order-destroying, priced honestly), and per-cell match
    counts prove the scan sets cover every true row. Oracle
    recomputes the transforms and both mappings exactly."""
    from ..catalog import load

    return partition_prune_audit(load(spark, sf_dir, "documents"))
