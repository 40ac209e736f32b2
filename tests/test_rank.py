"""The engine's one ranking rule (functions/rank.py): ``first_per_key``
keeps one row per key, ``top_k`` cuts to the first k rows of a total
order, per group or overall. Both plan disciplines are asserted here,
once, instead of in the comments of every call site.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from football_data_pipeline_spark.functions.rank import first_per_key, top_k


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_first_per_key_mixed_order(spark):
    """desc, asc and desc_nulls_last in one order: a NULL score sorts
    after every real score, so it wins only when the key has no other
    row; ties on score fall to the asc id, then the desc seq."""
    df = spark.createDataFrame(
        [
            (1, 10, 0.5, 1),
            (1, 11, 0.9, 1),  # best score
            (1, 12, None, 9),
            (2, 21, None, 2),  # NULL ties: asc id, then desc seq
            (2, 21, None, 5),
            (2, 22, None, 9),
            (3, 30, 0.7, 1),
            (3, 31, 0.7, 1),  # score tie: the lower id wins
        ],
        "k long, id long, score double, seq long",
    )
    order = [F.desc_nulls_last("score"), F.asc("id"), F.desc("seq")]
    got = {
        r.k: (r.id, r.seq) for r in first_per_key(df, ["k"], order).collect()
    }
    assert got == {1: (11, 1), 2: (21, 5), 3: (30, 1)}


def test_first_per_key_keeps_callers_rank_column(spark):
    """The row-number column is private: an input column named
    ``rank`` passes through with its own values, and the output schema
    is the input schema."""
    df = spark.createDataFrame(
        [(1, 7, "a"), (1, 3, "b"), (2, 5, "c")], "k long, rank long, v string"
    )
    out = first_per_key(df, ["k"], [F.asc("v")])
    assert out.schema == df.schema
    assert sorted(map(tuple, out.collect())) == [(1, 7, "a"), (2, 5, "c")]


def test_top_k_by_group_keeps_min_k_group_size(spark):
    """Each group keeps min(k, group size) rows ranked 1..n in order,
    also when k exceeds every group and when the input is empty."""
    rows = [("a", i, 10 - i) for i in range(5)] + [("b", 9, 1), ("b", 8, 1)]
    df = spark.createDataFrame(rows, "g string, id long, score long")
    order = [F.desc("score"), F.asc("id")]
    for k, want in (
        (2, {"a": [0, 1], "b": [8, 9]}),
        (10, {"a": [0, 1, 2, 3, 4], "b": [8, 9]}),
    ):
        got: dict[str, list] = {}
        for r in sorted(top_k(df, k, order, by=["g"]).collect(), key=lambda r: (r.g, r["rank"])):
            got.setdefault(r.g, []).append((r["rank"], r.id))
        assert got == {g: list(enumerate(ids, 1)) for g, ids in want.items()}
    empty = top_k(df.limit(0), 3, order, by=["g"])
    assert empty.columns == ["g", "id", "score", "rank"]
    assert empty.collect() == []


def test_top_k_global(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(10)], "id long, s long")
    got = [(r["rank"], r.id) for r in top_k(df, 4, [F.desc("s"), F.asc("id")]).collect()]
    assert sorted(got) == [(1, 2), (2, 5), (3, 8), (4, 1)]


def test_top_k_plan_disciplines(spark):
    """Grouped: the filter sits on the window, so Catalyst plans a
    WindowGroupLimit. Global: the cut is a TakeOrderedAndProject BELOW
    the rank window, so the window sees at most k rows."""
    df = spark.range(100).select((F.col("id") % 7).alias("g"), "id")
    grouped = _plan(top_k(df, 3, [F.desc("id")], by=["g"]))
    assert "WindowGroupLimit" in grouped
    lines = _plan(top_k(df, 3, [F.desc("id")])).splitlines()
    window = next(i for i, ln in enumerate(lines) if "Window " in ln)
    take = next(i for i, ln in enumerate(lines) if "TakeOrderedAndProject" in ln)
    assert window < take  # tree order: the window is the parent
