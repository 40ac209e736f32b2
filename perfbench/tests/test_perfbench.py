"""The benchmark's own tests.

    python -m pytest perfbench/tests -q -p no:cacheprovider

The last test starts a SparkSession (about half a minute).
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402
from docgen import DocGenerator  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_generator_is_deterministic():
    a, b, c = (DocGenerator(s, workloads.DOCS_PER_BATCH) for s in (7, 7, 8))
    first = [a.next_batch() for _ in range(3)]
    assert first == [b.next_batch() for _ in range(3)]
    assert first[0] != c.next_batch()
    assert a.expected.row_counts() == b.expected.row_counts()


def test_generator_expectations_match_its_documents():
    gen = DocGenerator(3, workloads.DOCS_PER_BATCH)
    docs = [d for _ in range(2) for d in json.loads(gen.next_batch())]
    odds = sum(
        len(bm["markets"])
        for d in docs
        for payload in d["data"].values()
        if isinstance(payload, dict) and "bookmakers" in payload
        for bm in payload["bookmakers"]
    )
    counts = gen.expected.row_counts()
    assert counts["odds_history"] == odds
    assert counts["lineups"] == 32 * len(docs)  # two 16-player lineups each
    assert counts["team_statistics"] == 2 * len(docs)
    assert counts["fixtures"] == len({d["fixture_id"] for d in docs}) < len(docs)
    before = dict(counts)
    gen.history_batch()  # dims only: its facts are never landed
    after = gen.expected.row_counts()
    assert all(after[t] == before[t] for t in ("odds_history", "lineups", "team_statistics", "head_to_head"))
    assert after["players"] >= before["players"] and gen.batches == 3
    for d in docs:
        bms = next(p for p in d["data"].values() if isinstance(p, dict) and "bookmakers" in p)
        assert 8 <= len(bms["bookmakers"]) <= 36
        assert all(1 <= len(bm["markets"]) <= 4 for bm in bms["bookmakers"])


def test_workload_names_resolve():
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    for name in workloads.ODDS_READ:
        assert name in QUERIES and QUERIES[name].oracle, name
    assert sorted(workloads.query_order(5)) == sorted(workloads.ODDS_READ)


def test_every_metric_has_its_unit():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    measured = {"setup_s", "retained_heap_mb"}  # added by run.main
    read = workloads.Outcome(passes=[(3.0, 5.0)], reference=[0.1, 0.2])
    for q in workloads.ODDS_READ:
        read.record(q, 0.5, 0.9)
    ingest = workloads.Outcome(passes=[(9.0, 20.0)], reference=[0.1])
    ingest.record("batch", 6.0, 15.0)
    ingest.record("refresh", 3.0, 5.0)
    for name, out in (("odds_read", read), ("odds_ingest", ingest)):
        values, walls = workloads.summarize(out, name)
        assert set(values) | measured == set(run.END_TO_END)
        assert all(v > 0 for v in [*values.values(), *walls.values()])
    # a batch that raised before its refresh leaves no pass to report
    broken = workloads.Outcome(attempted=1, failed=1)
    broken.record("batch", 6.0, 15.0)
    assert workloads.summarize(broken, "odds_ingest") == ({}, {})
    line = run.result(broken, {})
    assert (line["correct"], line["attempted"], line["failed"], line["metrics"]) == (False, 1, 1, {})


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    # the JVM CPU clock of workloads.cpu_clock, as run.py starts it
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        "'--add-opens=jdk.management/com.sun.management.internal=ALL-UNNAMED' pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    from football_data_pipeline_spark.session import get_spark

    return get_spark(app_name="perfbench-tests")


def test_wrong_expected_result_counts_as_failed(spark):
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    actual = QUERIES["q_group_multi"].fn(spark, run.DATA).toPandas()
    con = workloads.oracle_connection(run.DATA)
    out = workloads.Outcome()
    workloads.check_result(con, "q_group_multi", actual, out)
    assert (out.attempted, out.failed) == (1, 0)
    workloads.check_result(con, "q_group_multi", actual, out, pd.DataFrame({"nope": [1]}))
    assert (out.attempted, out.failed) == (2, 1)
    con.close()


def test_raising_query_counts_as_failed(spark, monkeypatch):
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    from tracing import Tracer

    def broken(spark, sf_dir):
        raise RuntimeError("query function raised")

    monkeypatch.setattr(workloads, "ODDS_READ", ("q_group_multi", "q_star_join"))
    monkeypatch.setitem(QUERIES, "q_star_join", dataclasses.replace(QUERIES["q_star_join"], fn=broken))
    out = workloads.run_odds_read(spark, run.DATA, 1, 0, Tracer(enabled=False, run_id="t"))
    # two query runs and the check of the one that returned
    assert (out.attempted, out.failed) == (3, 1)
    assert workloads.summarize(out, "odds_read") == ({}, {})
    line = run.result(out, {})
    assert (line["correct"], line["failed"]) == (False, 1)
