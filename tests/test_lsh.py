"""The engine's one candidate-pair rule for LSH band joins
(functions/lsh.py): ``band_pairs`` returns exactly the pairs of rows
that share a (by…, band index, band value) bucket, each once, in the
self form and in the batch-vs-history form, through a band
equi-join that never pairs all rows with all rows, broadcast or
sort-merged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from football_data_pipeline_spark.functions.lsh import band_pairs

SCHEMA = "id long, g string, bands array<string>"
#: rows in the crafted band-0 mega-bucket
WIDE = 24


@pytest.fixture(params=["broadcast", "sort-merge"])
def join_mode(request, spark):
    """Run under the planner's two band-join strategies: the default
    threshold broadcasts these tiny inputs; -1 forces a sort-merge
    join, the plan a band stream above the threshold gets."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if request.param == "sort-merge":
        spark.conf.set(key, "-1")
    try:
        yield request.param
    finally:
        spark.conf.set(key, prev)


def _plan(df) -> str:
    """The executed plan, after AQE's runtime re-planning."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _brute(rows, pairable):
    """Every (a, b) that ``pairable`` admits and that shares at least
    one (group, band index, band value) — the definition, by hand."""
    out = set()
    for (ia, ga, ba), (ib, gb, bb) in ((x, y) for x in rows for y in rows):
        if pairable(ia, ib) and ga == gb and any(u == v for u, v in zip(ba, bb)):
            out.add((ia, ib))
    return out


def _mega_bucket_rows():
    # one band-0 mega-bucket, a band-1 bucket that repeats a band-0
    # pair (must not duplicate it), a value that equals a band-0 value
    # but sits in band 2 (must not pair across band indices), and
    # singletons
    rows = [(i, "g", ["hot", f"u{i}", f"w{i}"]) for i in range(WIDE)]
    rows[0] = (0, "g", ["hot", "twin", "w0"])
    rows[1] = (1, "g", ["hot", "twin", "w1"])
    rows.append((100, "g", ["c100", "twin", "x"]))
    rows.append((101, "g", ["x", "u101", "hot"]))
    rows.append((102, "g", ["c102", "u102", "w102"]))
    return rows


def test_self_form_equals_brute_force_each_pair_once(spark, join_mode):
    rows = _mega_bucket_rows()
    got = [
        (r.id_a, r.id_b)
        for r in band_pairs(spark.createDataFrame(rows, SCHEMA), "id", "bands").collect()
    ]
    want = _brute(rows, lambda a, b: a < b)
    assert len(got) == len(set(got))
    assert set(got) == want
    assert (0, 1) in want and (100, 101) not in want
    assert len(want) > WIDE * (WIDE - 1) // 2


def test_by_groups_never_pair_across_groups(spark):
    # byte-identical bands under different keys: pairs only within g
    rows = [
        (1, "x", ["a", "b"]),
        (2, "x", ["a", "c"]),
        (3, "y", ["a", "b"]),
        (4, "y", ["d", "b"]),
        (5, "z", ["a", "b"]),
    ]
    out = band_pairs(spark.createDataFrame(rows, SCHEMA), "id", "bands", by=["g"])
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == {(1, 2), (3, 4)}
    assert got == _brute(rows, lambda a, b: a < b)


def test_history_form_pairs_batch_with_history_only(spark, join_mode):
    hist_rows = [(i, "g", ["hot", f"h{i}", "k"]) for i in range(16)]
    batch_rows = [
        (50, "g", ["hot", "n50", "m"]),
        (51, "g", ["hot", "n51", "m"]),  # shares "m" with 50 — batch-only
        (52, "g", ["cold", "h3", "z"]),
        (53, "g", ["cold", "n53", "z"]),
    ]
    batch = spark.createDataFrame(batch_rows, SCHEMA)
    hist = spark.createDataFrame(hist_rows, SCHEMA)
    got = [(r.id_a, r.id_b) for r in band_pairs(batch, "id", "bands", right=hist).collect()]
    hist_ids = {r[0] for r in hist_rows}
    batch_ids = {r[0] for r in batch_rows}
    assert len(got) == len(set(got))
    assert all(a in batch_ids and b in hist_ids for a, b in got)
    every = _brute(batch_rows + hist_rows, lambda a, b: True)
    # the input has batch–batch and history–history band matches to leak
    assert (50, 51) in every and (0, 1) in every
    want = {(a, b) for a, b in every if a in batch_ids and b in hist_ids}
    assert set(got) == want
    assert (52, 3) in want


def test_both_forms_plan_band_equi_joins_only(spark, join_mode):
    rows = _mega_bucket_rows()
    df = spark.createDataFrame(rows, SCHEMA)
    for pairs in (
        band_pairs(df, "id", "bands", by=["g"]),
        band_pairs(df.filter(F.col("id") < 5), "id", "bands", right=df, by=["g"]),
    ):
        plan = _plan(pairs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        want = "BroadcastHashJoin" if join_mode == "broadcast" else "SortMergeJoin"
        assert want in plan
