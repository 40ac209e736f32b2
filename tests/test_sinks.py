"""Sinks: partitioned silver writes, partition pruning proof,
retention rewrite (S3/S5/S7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from football_data_pipeline_spark.sources.sinks import (
    PARTITION_COL,
    apply_retention,
    write_report_json,
    write_silver,
    write_snapshot_json,
)

from football_data_pipeline_spark.catalog import load

from .conftest import SF_DIR


def _events(spark):
    return (
        load(spark, SF_DIR, "events")
        .select("event_id", "user_id", "event_type", "value", F.col("ts").alias("collected_at"))
    )


def test_write_silver_partitions_and_roundtrip(spark, tmp_path):
    path = str(tmp_path / "silver_events")
    ev = _events(spark)
    write_silver(ev, path)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    # partition layout exists on disk
    import os

    parts = [d for d in os.listdir(path) if d.startswith(f"{PARTITION_COL}=")]
    assert len(parts) > 1


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A snapshot_date predicate must prune partitions at the scan —
    the replacement for the reference's idx_odds_collected index."""
    path = str(tmp_path / "silver_events_pruned")
    write_silver(_events(spark), path)
    some_date = spark.read.parquet(path).select(PARTITION_COL).first()[0]
    q = spark.read.parquet(path).filter(F.col(PARTITION_COL) == some_date)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "snapshot_date" in plan.split("PartitionFilters")[1][:200]
    # and the pruned read returns exactly that partition's rows
    n_all = spark.read.parquet(path).count()
    n_pruned = q.count()
    assert 0 < n_pruned < n_all


def test_retention_drops_only_expired(spark, tmp_path):
    path = str(tmp_path / "silver_events_ret")
    ev = _events(spark)
    write_silver(ev, path)
    cutoff_row = ev.select(F.expr("percentile_approx(collected_at, 0.5)").alias("c")).first()
    cutoff = F.lit(cutoff_row["c"]).cast("timestamp")
    expected = ev.filter(F.col("collected_at") >= cutoff_row["c"]).count()
    apply_retention(spark, path, cutoff)
    # an unbounded read sees exactly the survivors: fully expired
    # partitions are dropped, not just pruned away by a bounded read
    back = spark.read.parquet(path)
    assert back.count() == expected
    assert back.filter(F.col("collected_at") < cutoff_row["c"]).count() == 0


def test_retention_keeps_batch_partition_layout(spark, tmp_path):
    """Retention on the streaming pipeline's
    ``batch_id=N/snapshot_date=D`` fact layout leaves the table
    readable with the same layout minus the expired partitions, the
    same surviving rows, and the session's partition-overwrite conf
    untouched."""
    import datetime as dt
    import os

    conf = "spark.sql.sources.partitionOverwriteMode"
    path = str(tmp_path / "odds_history")
    day = dt.datetime(2024, 2, 10, 12)  # noon: the same date in any local zone
    for batch_id in (0, 1):
        rows = [(batch_id, i, day + dt.timedelta(days=i + 2 * batch_id)) for i in range(3)]
        write_silver(
            spark.createDataFrame(rows, "b int, i int, collected_at timestamp"),
            f"{path}/batch_id={batch_id}",
            mode="overwrite",
        )

    def layout():
        return {
            os.path.relpath(d, path)
            for d, _, files in os.walk(path)
            if any(f.endswith(".parquet") for f in files)
        }

    before = layout()
    cutoff = day + dt.timedelta(days=2)
    want = {tuple(r) for r in spark.read.parquet(path).filter(F.col("collected_at") >= cutoff).collect()}
    conf_before = spark.conf.get(conf, None)
    apply_retention(spark, path, F.lit(cutoff))
    assert spark.conf.get(conf, None) == conf_before
    back = spark.read.parquet(path)
    assert back.columns == ["b", "i", "collected_at", "batch_id", "snapshot_date"]
    assert {tuple(r) for r in back.collect()} == want and len(want) == 4
    assert layout() == {
        d for d in before if d.split("/")[1] >= f"{PARTITION_COL}=2024-02-12"
    }


def test_json_sinks_roundtrip(spark, tmp_path):
    snap = str(tmp_path / "snapshot")
    report = str(tmp_path / "report")
    ev = _events(spark).limit(100)
    write_snapshot_json(ev, snap)
    agg = ev.groupBy("event_type").count()
    write_report_json(agg, report)
    assert spark.read.json(snap).count() == 100
    got = {r["event_type"]: r["count"] for r in spark.read.json(report).collect()}
    want = {r["event_type"]: r["count"] for r in agg.collect()}
    assert got == want
    import glob

    assert len(glob.glob(f"{report}/part-*.json")) == 1


def test_documents_jsonl_corrupt_quarantine(spark, tmp_path):
    """PERMISSIVE JSONL ingest: good lines parse against the pinned
    schema, malformed lines are quarantined whole (raw bytes kept for
    replay), and nothing is silently dropped."""
    from football_data_pipeline_spark.sources.ingest import (
        read_documents_jsonl,
        split_corrupt,
    )

    p = tmp_path / "dump.jsonl"
    lines = [
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11}',
        '{"doc_id": 2, "text": "zwei", "lang": "de", "source": "web", "n_chars": 4}',
        '{"doc_id": 3, "text": "truncated...',  # cut mid-record
        "not json at all",
        "",  # blank separator line — from_json yields a NULL struct,
        "   ",  # not a corrupt marker; both must quarantine, never
        # surface as all-NULL document rows
    ]
    p.write_text("\n".join(lines) + "\n")
    good, bad = split_corrupt(read_documents_jsonl(spark, str(p)))
    good_rows = {r.doc_id: r for r in good.collect()}
    bad_rows = sorted(r.raw_line for r in bad.collect())
    assert set(good_rows) == {1, 2}
    assert good_rows[1].text == "hello world" and good_rows[1].n_chars == 11
    assert bad_rows == ["", "   ", "not json at all", '{"doc_id": 3, "text": "truncated...']
    assert all(r.doc_id is not None for r in good_rows.values())
    # accounting: every input line is either parsed or quarantined
    assert good.count() + bad.count() == len(lines)


def test_write_training_shards_matches_epoch_order(spark, tmp_path):
    """The shard writer's (shard, file-order) sequence must equal the
    queryable epoch_order permutation — the determinism contract a
    training loader relies on."""
    import glob

    from football_data_pipeline_spark.operators.ordering import epoch_order
    from football_data_pipeline_spark.sources.sinks import write_training_shards

    rows = [(i, "en", "w", f"doc number {i}") for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    out = str(tmp_path / "shards")
    # max_records_per_file=2 forces every shard to roll across
    # multiple files — the order guarantee must survive the rolls
    write_training_shards(docs, out, epoch=1, max_records_per_file=2)

    expected = {}
    for r in epoch_order(docs, epochs=2).filter("epoch = 1").collect():
        expected.setdefault(r.shard, []).append((r.pos, r.doc_id))

    import pandas as pd

    for shard, pairs in expected.items():
        files = sorted(glob.glob(f"{out}/shard={shard}/*.parquet"))
        assert files, f"shard {shard} missing"
        if len(pairs) > 2:
            assert len(files) >= 2  # the roll actually happened
        got = pd.concat([pd.read_parquet(f) for f in files])
        # (file, row) order == shuffle_key order == epoch_order pos
        assert list(got["doc_id"]) == [d for _, d in sorted(pairs)]
    # every shard directory belongs to a real shard
    dirs = glob.glob(f"{out}/shard=*")
    assert len(dirs) == len(expected)
