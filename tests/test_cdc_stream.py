"""Streaming CDC materialized view: view parity with the batch
operator, out-of-order safety across batches, crash-replay
idempotence, the COW fold (compact_cdc_snapshot) and its
monotonicity, and the seq guard."""

from __future__ import annotations

import shutil

import pytest

from football_data_pipeline_spark.operators.cdc import apply_changes
from football_data_pipeline_spark.sources.snapshots import (
    _marker_path,
    read_snapshot,
    snapshot_versions,
)
from football_data_pipeline_spark.streaming.cdc_stream import (
    cdc_snapshot_writer,
    compact_cdc_snapshot,
    read_cdc_snapshot_log,
)

CHG_SCHEMA = "k long, seq long, op string, v string"
BASE_SCHEMA = "k long, v string"


def _chg(spark, rows):
    return spark.createDataFrame(rows, CHG_SCHEMA)


def _writer(root):
    return cdc_snapshot_writer(str(root), "k", "seq", "op", ["v"])


def _snap_log(spark, root, base=None, **kw):
    out = read_cdc_snapshot_log(spark, str(root), "k", ["v"], base=base, **kw)
    return {r.k: r.v for r in out.select("k", "v").collect()}


def test_snapshot_matches_batch_apply_and_handles_out_of_order(spark, tmp_path):
    """The view over a fixed two-batch sequence (a delete, a LATE
    lower-seq change that must lose, an insert) equals the batch
    operator over the concatenated log, and the winners it keeps —
    seq and tombstone included — are the rows the writer produced
    when it still had a partition-backed twin, and both agreed."""
    root = tmp_path / "cdc"
    w = _writer(root)
    b0 = [(1, 10, "U", "a"), (2, 10, "U", "b"), (3, 10, "U", "c")]
    b1 = [
        (2, 20, "D", None),   # delete
        (3, 5, "U", "stale"),  # LATE lower-seq change: must lose
        (4, 20, "U", "d"),    # insert
    ]
    w(_chg(spark, b0), 0)
    w(_chg(spark, b1), 1)
    assert _snap_log(spark, root) == {1: "a", 3: "c", 4: "d"}
    # parity with the batch operator over the concatenated log
    batch = apply_changes(
        spark.createDataFrame([], BASE_SCHEMA),
        _chg(spark, b0 + b1),
        "k",
        "seq",
        "op",
        ["v"],
    )
    assert {r.k: r.v for r in batch.collect()} == _snap_log(spark, root)
    winners = read_cdc_snapshot_log(
        spark, str(root), "k", ["v"], keep_seq=True, keep_tombstones=True
    )
    assert sorted(map(tuple, winners.collect())) == [
        (1, "a", 10, "U"),
        (2, None, 20, "D"),
        (3, "c", 10, "U"),
        (4, "d", 20, "U"),
    ]


def test_replay_of_last_batch_is_idempotent(spark, tmp_path):
    """Crash window BEFORE the last batch's commit marker: its winner
    files landed but the commit did not. The view ignores the debris,
    and the restart's replay of the batch lands it exactly once."""
    root = tmp_path / "cdc"
    log = f"{root}/winners_log"
    w = _writer(root)
    w(_chg(spark, [(1, 1, "U", "a")]), 0)
    b1 = _chg(spark, [(1, 2, "U", "a2"), (2, 2, "U", "b")])
    w(b1, 1)
    first = _snap_log(spark, root)
    shutil.rmtree(_marker_path(log, snapshot_versions(spark, log)[-1]))
    assert _snap_log(spark, root) == {1: "a"}
    w(b1, 1)  # crash-restart re-runs the last batch
    assert _snap_log(spark, root) == first == {1: "a2", 2: "b"}
    assert len(snapshot_versions(spark, log)) == 2


def test_base_and_compaction_rebase_preserve_monotonicity(spark, tmp_path):
    root1 = tmp_path / "cdc1"
    w1 = _writer(root1)
    base = spark.createDataFrame([(1, "old"), (9, "keep")], BASE_SCHEMA)
    w1(_chg(spark, [(1, 50, "U", "new")]), 0)
    assert _snap_log(spark, root1, base=base) == {1: "new", 9: "keep"}
    # compaction: materialize WITH __seq as the new base
    compacted = read_cdc_snapshot_log(
        spark, str(root1), "k", ["v"], base=base, keep_seq=True
    )
    rebased = compacted.collect()
    assert {(r.k, r.v) for r in rebased} == {(1, "new"), (9, "keep")}
    root2 = tmp_path / "cdc2"
    w2 = _writer(root2)
    # a LATE change older than the compacted winner must still lose
    w2(_chg(spark, [(1, 10, "U", "stale")]), 0)
    assert _snap_log(
        spark, root2, base=spark.createDataFrame(rebased)
    ) == {1: "new", 9: "keep"}


def test_negative_seq_rejected_and_empty_state_errors(spark, tmp_path):
    root = tmp_path / "cdc"
    w = _writer(root)
    with pytest.raises(Exception, match="cdc seq must be >= 0"):
        w(_chg(spark, [(1, -1, "U", "a")]), 0)
    with pytest.raises(ValueError, match="no log yet"):
        read_cdc_snapshot_log(spark, str(tmp_path / "none"), "k", ["v"])
    # an external base alone is a valid view before the first commit
    base = spark.createDataFrame([(7, "seed")], BASE_SCHEMA)
    assert _snap_log(spark, tmp_path / "none", base=base) == {7: "seed"}


def test_late_low_seq_update_loses_after_rebase_even_for_deleted_key(
    spark, tmp_path
):
    root = tmp_path / "cdc"
    w = _writer(root)
    w(_chg(spark, [(1, 50, "U", "live")]), 0)
    w(_chg(spark, [(2, 60, "D", None)]), 1)
    compact_cdc_snapshot(spark, str(root), "k", ["v"])
    # a LATE lower-seq 'U' for the DELETED key arrives after the
    # fold: the retained tombstone must still win
    w(_chg(spark, [(2, 10, "U", "ghost"), (1, 20, "U", "stale")]), 2)
    assert _snap_log(spark, root) == {1: "live"}
    # ...and a genuinely newer 'U' resurrects it, across a second fold
    w(_chg(spark, [(2, 70, "U", "back")]), 3)
    compact_cdc_snapshot(spark, str(root), "k", ["v"])
    assert _snap_log(spark, root) == {1: "live", 2: "back"}


def test_interrupted_compaction_is_idempotent(spark, tmp_path):
    """Folding is idempotent: a replay of a folded batch is a guarded
    no-op, and folding an already-folded table again changes neither
    the view nor the winner rows."""
    root = tmp_path / "cdc"
    log = f"{root}/winners_log"
    w = _writer(root)
    w(_chg(spark, [(1, 10, "U", "a"), (2, 20, "D", None)]), 0)
    w(_chg(spark, [(3, 30, "U", "c")]), 1)
    compact_cdc_snapshot(spark, str(root), "k", ["v"])
    before = _snap_log(spark, root)
    folded = sorted(map(tuple, read_snapshot(spark, log).collect()))
    n_versions = len(snapshot_versions(spark, log))
    w(_chg(spark, [(3, 30, "U", "c")]), 1)  # replay after the fold
    assert len(snapshot_versions(spark, log)) == n_versions
    assert _snap_log(spark, root) == before == {1: "a", 3: "c"}
    compact_cdc_snapshot(spark, str(root), "k", ["v"])
    assert _snap_log(spark, root) == before
    assert sorted(map(tuple, read_snapshot(spark, log).collect())) == folded


def test_cdc_snapshot_writer_twin_run_parity(spark, tmp_path):
    """Two runs of the snapshot-backed CDC writer over the same change
    log must materialize the IDENTICAL view and winners, whatever the
    batch split: run A sees it as two batches, run B as one batch that
    a crash-restart replays. The out-of-order loss and the delete
    hold in both."""
    b0 = [(1, 10, "U", "a"), (2, 10, "U", "b"), (3, 10, "U", "c")]
    b1 = [(2, 20, "D", None), (3, 5, "U", "stale"), (4, 20, "U", "d")]
    r_a = tmp_path / "two_batches"
    r_b = tmp_path / "one_batch"
    wa = _writer(r_a)
    wa(_chg(spark, b0), 0)
    wa(_chg(spark, b1), 1)
    wb = _writer(r_b)
    wb(_chg(spark, b0 + b1), 0)
    wb(_chg(spark, b0 + b1), 0)  # crash-restart re-runs the batch
    assert _snap_log(spark, r_a) == _snap_log(spark, r_b) == {
        1: "a",
        3: "c",
        4: "d",
    }

    def winners(root):
        out = read_cdc_snapshot_log(
            spark, str(root), "k", ["v"], keep_seq=True, keep_tombstones=True
        )
        return sorted(map(tuple, out.collect()))

    assert winners(r_a) == winners(r_b)


def test_cdc_snapshot_writer_replay_and_seq_guard(spark, tmp_path):
    """Replay of the last batch is a guarded no-op (no new version);
    the in-plan seq guard still fires through the snapshot path."""
    root = tmp_path / "cdc"
    w = _writer(root)
    w(_chg(spark, [(1, 1, "U", "a")]), 0)
    b1 = _chg(spark, [(1, 2, "U", "a2"), (2, 2, "U", "b")])
    w(b1, 1)
    first = _snap_log(spark, root)
    n = len(snapshot_versions(spark, f"{root}/winners_log"))
    w(b1, 1)  # crash-restart re-runs the last batch
    assert _snap_log(spark, root) == first == {1: "a2", 2: "b"}
    assert len(snapshot_versions(spark, f"{root}/winners_log")) == n
    with pytest.raises(Exception, match="cdc seq must be >= 0"):
        w(_chg(spark, [(9, -1, "U", "x")]), 2)


def test_cdc_snapshot_fold_keeps_tombstones_and_monotonicity(spark, tmp_path):
    """The COW fold (compact_cdc_snapshot) collapses to one row per
    key, KEEPS 'D' tombstones and winning seqs (a late lower-seq 'U'
    still loses after the fold — even for a deleted key), carries the
    batch watermark, and leaves old versions time-travelable."""
    from football_data_pipeline_spark.sources.snapshots import (
        latest_committed_batch,
    )

    root = tmp_path / "cdc"
    log = f"{root}/winners_log"
    w = _writer(root)
    w(_chg(spark, [(1, 10, "U", "a"), (2, 10, "U", "b")]), 0)
    w(_chg(spark, [(1, 20, "U", "a2"), (2, 30, "D", None)]), 1)
    pre_fold = _snap_log(spark, root)
    assert pre_fold == {1: "a2"}
    v = compact_cdc_snapshot(spark, str(root), "k", ["v"])
    # folded table: one row per key, tombstone retained with its seq
    rows = {
        r["k"]: (r["__seq"], r["__op"])
        for r in read_snapshot(spark, log).collect()
    }
    assert rows == {1: (20, "U"), 2: (30, "D")}
    assert _snap_log(spark, root) == pre_fold
    # watermark carried: the replay guard survives the fold
    assert latest_committed_batch(spark, log) == 1
    w(_chg(spark, [(1, 20, "U", "a2"), (2, 30, "D", None)]), 1)  # replay
    assert snapshot_versions(spark, log)[-1] == v
    # late lower-seq changes still lose — including for the deleted key
    w(_chg(spark, [(1, 15, "U", "stale"), (2, 25, "U", "resurrect")]), 2)
    assert _snap_log(spark, root) == {1: "a2"}
    # pre-fold versions remain one pin away
    assert {
        r.k
        for r in read_snapshot(spark, log, version=0).collect()
    } == {1, 2}


def test_crashed_fold_retry_takes_fresh_gen_dir(spark, tmp_path):
    """A crash between the fold's parquet write and its commit leaves
    a gen-N dir with no matching snap dir (ADVICE r12); the retry
    must number PAST the debris instead of colliding with
    mode('errorifexists') and failing permanently."""
    import os

    root = tmp_path / "cdc"
    w = _writer(root)
    w(_chg(spark, [(1, 10, "U", "a"), (2, 10, "U", "b")]), 0)
    w(_chg(spark, [(1, 20, "U", "a2")]), 1)
    pre = _snap_log(spark, root)
    # simulate the crashed fold: the gen the snap-dir numbering alone
    # would pick (max snap + 1) already exists as debris
    debris = root / "winners_fold" / "gen-2"
    os.makedirs(debris)
    (debris / "_started").write_text("crashed before commit")
    v = compact_cdc_snapshot(spark, str(root), "k", ["v"])
    assert v is not None
    assert _snap_log(spark, root) == pre
    # the retry took a FRESH dir past the debris, which is untouched
    assert (debris / "_started").read_text() == "crashed before commit"
    assert (root / "winners_fold" / "gen-3").is_dir()
