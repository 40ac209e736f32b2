"""The snapshot table's one rewrite path, default tier: a retraction
fold commits with the logs' batch watermarks (so expiry cannot reopen
the replay guard), a merge-on-read over an empty manifest fails with
read_snapshot's error, maintain() compacts a partition-encoded
log without crossing a partition value and plans each pass once, and
a fold through ``base_path`` writes files of the carried files'
schema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from football_data_pipeline_spark.sources.manifest import build_manifest
from football_data_pipeline_spark.sources.mor import (
    fold_deletes,
    fold_retractions,
    live_view,
    read_mor,
)
from football_data_pipeline_spark.sources.snapshots import (
    expire_snapshots,
    latest_committed_batch,
    maintain,
    read_manifest,
    read_snapshot,
    snapshot_append_writer,
)


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select("id").coalesce(1)


def test_fold_retractions_keeps_batch_watermarks(spark, tmp_path):
    """Two data batches and one retraction batch, a fold, then
    keep-one retention on both logs: the replay guards must hold, so
    replaying data batch 1 cannot overwrite ``batch_id=1``, whose
    file the folded manifest still carries."""
    dlog, ddata = str(tmp_path / "dlog"), str(tmp_path / "ddata")
    rlog, rdata = str(tmp_path / "rlog"), str(tmp_path / "rdata")
    data_w = snapshot_append_writer(dlog, ddata, ["id"])
    del_w = snapshot_append_writer(rlog, rdata, ["id"])
    data_w(_batch(spark, 0, 50), 0)
    data_w(_batch(spark, 50, 100), 1)
    del_w(spark.createDataFrame([(5,)], "id long").coalesce(1), 0)
    out = fold_retractions(spark, dlog, rlog, "id", str(tmp_path / "fold"))
    assert out["mode"] == "folded"
    expire_snapshots(spark, dlog, keep_latest=1)
    expire_snapshots(spark, rlog, keep_latest=1)
    assert latest_committed_batch(spark, dlog) == 1
    assert latest_committed_batch(spark, rlog) == 0
    # crash-restart replays: both are guarded no-ops
    data_w(_batch(spark, 50, 100), 1)
    del_w(spark.createDataFrame([(5,)], "id long").coalesce(1), 0)
    want = [i for i in range(100) if i != 5]
    assert _ids(read_snapshot(spark, dlog)) == want
    assert _ids(live_view(spark, dlog, rlog, "id")) == want


def test_read_mor_on_empty_manifest_raises_value_error(spark, tmp_path):
    """fold_deletes drops every file a single range fully covers; a
    merge-on-read over the resulting empty manifest has no schema to
    read and must say so, as read_snapshot does."""
    path = str(tmp_path / "tbl")
    spark.range(100).select("id").repartitionByRange(4, "id").write.parquet(
        path
    )
    m = build_manifest(spark, path, ["id"])
    folded = fold_deletes(spark, m, "id", [(0, 99)], str(tmp_path / "fold"))
    assert folded.count() == 0
    with pytest.raises(ValueError, match="snapshot has an empty manifest"):
        read_mor(spark, folded, "id", [(10, 20)])


def test_maintain_packs_within_partition_values(spark, tmp_path):
    """A log laid out under a tracked directory-encoded column (the
    append writer's ``partition_by``) compacts through plain
    maintain(): one file per value afterwards, NULL values grouped
    apart, per-file min == max kept, every row kept."""
    log, data = str(tmp_path / "log"), str(tmp_path / "data")
    w = snapshot_append_writer(log, data, ["p"], partition_by=["p"])
    for b in range(3):
        w(
            spark.range(b * 30, (b + 1) * 30)
            .select(
                "id",
                F.when(F.col("id") % 3 == 0, F.lit(None))
                .otherwise(F.col("id") % 2)
                .cast("long")
                .alias("p"),
            )
            .coalesce(1),
            b,
        )
    assert read_manifest(spark, log).count() == 9
    report = maintain(spark, log, 1_000, str(tmp_path / "opt"), keep_latest=1)
    assert report["compacted_version"] is not None
    rows = read_manifest(spark, log).collect()
    assert sorted((r.p_min is None, r.p_min) for r in rows) == [
        (False, 0),
        (False, 1),
        (True, None),
    ]
    assert all(r.p_min == r.p_max for r in rows)
    assert sorted(r.n_rows for r in rows) == [30, 30, 30]
    assert _ids(read_snapshot(spark, log)) == list(range(90))
    # already compact: the next pass is a no-op
    again = maintain(spark, log, 1_000, str(tmp_path / "opt"), keep_latest=1)
    assert again["compacted_version"] is None


def test_maintain_plans_compaction_once_per_pass(spark, tmp_path, monkeypatch):
    """One maintain() pass over a 3-batch log of small files plans
    the compaction once: the plan that decides whether to commit is
    the plan the compactor runs (each plan collects the manifest)."""
    from football_data_pipeline_spark.sources import optimize

    log, data = str(tmp_path / "log"), str(tmp_path / "data")
    w = snapshot_append_writer(log, data, ["id"])
    for b in range(3):
        w(_batch(spark, b * 10, (b + 1) * 10), b)
    calls = []
    plan = optimize._plan

    def counted(*args, **kwargs):
        calls.append(args)
        return plan(*args, **kwargs)

    monkeypatch.setattr(optimize, "_plan", counted)
    report = maintain(spark, log, 1_000, str(tmp_path / "opt"), keep_latest=1)
    assert report["compacted_version"] is not None
    assert len(calls) == 1
    assert read_manifest(spark, log).count() == 1
    assert _ids(read_snapshot(spark, log)) == list(range(30))


def test_fold_through_base_path_keeps_one_file_schema(spark, tmp_path):
    """A retraction fold that reads through ``base_path`` recovers the
    append writer's directory-encoded ``batch_id`` for the transform
    but writes only the columns the rewritten files held, so the
    folded snapshot's files (carried and rewritten) read one column
    set."""
    dlog, ddata = str(tmp_path / "dlog"), str(tmp_path / "ddata")
    rlog, rdata = str(tmp_path / "rlog"), str(tmp_path / "rdata")
    data_w = snapshot_append_writer(dlog, ddata, ["id"])
    del_w = snapshot_append_writer(rlog, rdata, ["id"])
    data_w(_batch(spark, 0, 50), 0)
    data_w(_batch(spark, 50, 100), 1)
    del_w(spark.createDataFrame([(5,)], "id long").coalesce(1), 0)
    out = fold_retractions(
        spark, dlog, rlog, "id", str(tmp_path / "fold"), base_path=ddata
    )
    assert out["mode"] == "folded"
    files = [r.file for r in read_manifest(spark, dlog).collect()]
    assert any("/fold/" in f for f in files) and any("/ddata/" in f for f in files)
    assert {tuple(spark.read.parquet(f).columns) for f in files} == {("id",)}
    assert _ids(read_snapshot(spark, dlog)) == [i for i in range(100) if i != 5]
