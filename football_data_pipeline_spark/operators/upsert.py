"""Merge/upsert semantics over plain Parquet (SURVEY.md §2.4).

The reference never UPDATEs; every write is one of:
- U1 ``INSERT OR REPLACE`` keyed upsert
  (/root/reference/database_integration.py:127-130,241-254,305-311);
- U2 ``INSERT OR IGNORE`` insert-if-absent (:273-280,298-302);
- U3 check-then-insert (:140-152,160-174) — same semantics as U2;
- U4 append-only (:219-226);
- U5 keyed DELETE (/root/reference/enhanced_mapping.py:774-777).

Without a transactional table format, upserts are expressed as
deterministic dedup-overwrite: union the delta with the base and keep
exactly one row per key, chosen by an explicit (priority, ordering)
rule (``functions/rank.first_per_key``, the engine's one ranking
rule) — the same result MERGE INTO would produce, and the pattern
Delta/Iceberg's MERGE compiles to anyway.

Scale notes: one shuffle on the key columns per merge. At 100 TB the
base side should be partitioned/bucketed by the merge key so only
touched partitions rewrite (partition-overwrite-dynamic); these
helpers keep the logic engine-side and format-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rank import first_per_key


def keep_first(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """First row per key in (order_cols) order — INSERT OR IGNORE
    within a batch: the first insert wins, later duplicates are
    ignored."""
    return first_per_key(df, keys, [F.asc(c) for c in order_cols])


def keep_latest(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Last row per key — INSERT OR REPLACE within a batch."""
    return first_per_key(df, keys, [F.desc(c) for c in order_cols])


def upsert_replace(
    base: DataFrame, delta: DataFrame, keys: list[str], order_cols: list[str]
) -> DataFrame:
    """U1: keyed upsert — delta rows replace base rows on key clash.

    ``INSERT OR REPLACE`` replaces the *whole* row (dropped columns
    reset to defaults) — replicated here because the delta row is
    taken verbatim, never merged column-wise. Delta wins over base
    even when order_cols tie (priority column), matching SQLite's
    replace-on-conflict.
    """
    tagged = base.withColumn("__src", F.lit(0)).unionByName(
        delta.withColumn("__src", F.lit(1))
    )
    order = [F.desc("__src")] + [F.desc(c) for c in order_cols]
    return first_per_key(tagged, keys, order).drop("__src")


def insert_if_absent(base: DataFrame, delta: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """U2/U3: keep base rows untouched; add delta rows whose key is
    absent (left-anti + append). Delta is first deduped first-wins,
    matching sequential INSERT OR IGNORE."""
    fresh = keep_first(delta, keys, order_cols).join(base, on=keys, how="left_anti")
    return base.unionByName(fresh)


def delete_where(df: DataFrame, cond: Column) -> DataFrame:
    """U5: DELETE WHERE cond → keep the complement. NULL-safe: rows
    where cond is NULL are kept, matching SQL DELETE semantics."""
    return df.filter(~F.coalesce(cond, F.lit(False)))


def retention_filter(df: DataFrame, ts_col: str, days: int, now: Column) -> DataFrame:
    """S7: the 180-day retention DELETE
    (.github/workflows/football-data-pipeline.yml:661-680). On plain
    Parquet this is filter-and-rewrite; with a date-partitioned table
    it becomes partition drops — metadata-only at any scale."""
    return df.filter(F.col(ts_col) >= now - F.expr(f"INTERVAL {days} DAYS"))
