"""Upsert/merge semantics (SURVEY.md §2.4) — the highest
semantic-drift-risk area per the risk register (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from football_data_pipeline_spark.operators.upsert import (
    delete_where,
    insert_if_absent,
    keep_first,
    keep_latest,
    upsert_replace,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, val string, ts string")


def test_upsert_replace_whole_row(spark):
    """U1: delta wins on key clash, whole-row replace (a NULL column
    in the delta really becomes NULL — INSERT OR REPLACE resets)."""
    base = _df(spark, [(1, "old", "t1"), (2, "keep", "t1")])
    delta = _df(spark, [(1, None, "t2"), (3, "new", "t2")])
    out = {r.id: r for r in upsert_replace(base, delta, ["id"], ["ts"]).collect()}
    assert len(out) == 3
    assert out[1].val is None  # replaced whole-row, not column-merged
    assert out[2].val == "keep"
    assert out[3].val == "new"


def test_upsert_replace_delta_wins_on_tie(spark):
    """Delta beats base even when the ordering column ties, matching
    SQLite replace-on-conflict."""
    base = _df(spark, [(1, "base", "t1")])
    delta = _df(spark, [(1, "delta", "t1")])
    out = upsert_replace(base, delta, ["id"], ["ts"]).collect()
    assert out[0].val == "delta"


def test_insert_if_absent_first_wins(spark):
    """U2/U3: base untouched; within the delta the FIRST row per key
    wins (sequential INSERT OR IGNORE)."""
    base = _df(spark, [(1, "base", "t1")])
    delta = _df(spark, [(1, "clash", "t2"), (2, "a", "t2"), (2, "b", "t3")])
    out = {r.id: r for r in insert_if_absent(base, delta, ["id"], ["ts"]).collect()}
    assert out[1].val == "base"
    assert out[2].val == "a"


def test_keep_first_keep_latest(spark):
    df = _df(spark, [(1, "a", "t1"), (1, "b", "t2"), (2, "c", "t1")])
    assert {r.val for r in keep_first(df, ["id"], ["ts"]).collect()} == {"a", "c"}
    assert {r.val for r in keep_latest(df, ["id"], ["ts"]).collect()} == {"b", "c"}


def test_delete_where_null_safe(spark):
    """U5: rows where the predicate is NULL survive a DELETE."""
    df = _df(spark, [(1, "x", "t1"), (2, None, "t1"), (3, "y", "t1")])
    out = delete_where(df, F.col("val") == "x")
    assert {r.id for r in out.collect()} == {2, 3}

