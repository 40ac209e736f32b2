"""Keep-best streaming dedup (streaming/supersede.py): a
higher-quality arrival supersedes its accepted owner (tombstone +
acceptance), worse/tie arrivals reject as usual, the probe always
compares against the LIVE owner, replay is idempotent, and the
accepted/tombstone snapshot logs survive maintain() and time-travel.

Fixture arithmetic (quality.classify_quality token weights): the
10-greek-word ``BASE`` has mean -0.228; appending 'sludge' (+0.992)
raises it, appending 'yyy' (-0.788) lowers it, and REPEATING an
existing word ('beta', +0.813) changes the mean without changing the
word set — an exact-fingerprint dup with a different score.
"""

from __future__ import annotations

from football_data_pipeline_spark.sources.snapshots import (
    read_snapshot,
    snapshot_versions,
)
from football_data_pipeline_spark.streaming.supersede import (
    keep_best_snapshot_writer,
    read_live_corpus_snapshot,
)

import pytest as _pytest_r14

# r14 slow tier: multi-minute e2e file — excluded from the default
# (driver-window) run by pytest.ini; the full suite (-m "") runs it.
pytestmark = _pytest_r14.mark.slow

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows], SCHEMA
    )


def _read(spark, root, sub):
    """A batchId-keyed audit table (classification, rejected)."""
    return spark.read.option("basePath", f"{root}/{sub}").parquet(f"{root}/{sub}")


def _log(spark, root, table):
    """Rows of the latest committed snapshot of ``{root}/{table}_log``
    ([] before the first commit — an all-empty table never commits)."""
    log = f"{root}/{table}_log"
    if not snapshot_versions(spark, log):
        return []
    return read_snapshot(spark, log).collect()


def _tombs(spark, root):
    return {r.doc_id: r for r in _log(spark, root, "tombstones")}


def _live(spark, root):
    return {r.doc_id for r in read_live_corpus_snapshot(spark, root).collect()}


def test_better_near_copy_supersedes_and_owner_stays_live(spark, tmp_path):
    root = str(tmp_path / "c")
    w = keep_best_snapshot_writer(root)
    w(_df(spark, [(1, BASE)]), 0)
    # better near copy (jaccard 10/11, higher mean) supersedes doc 1
    w(_df(spark, [(11, BASE + " sludge")]), 1)
    tomb = _tombs(spark, root)
    assert set(tomb) == {1}
    assert tomb[1].superseded_by == 11 and tomb[1].new_score > tomb[1].score
    acc = {r.doc_id for r in _log(spark, root, "accepted")}
    assert acc == {1, 11}  # the accepted log keeps history; the VIEW prunes
    assert _live(spark, root) == {11}
    # batch 2: a copy of the ORIGINAL text must be judged against the
    # LIVE owner 11 (not the tombstoned 1) — and it scores lower
    w(_df(spark, [(21, BASE)]), 2)
    rej = {r.doc_id: r for r in _read(spark, root, "rejected").collect()}
    assert rej[21].dup_of == 11 and rej[21].reason == "duplicate_not_better"
    assert _live(spark, root) == {11}


def test_worse_and_tie_arrivals_keep_incumbent(spark, tmp_path):
    root = str(tmp_path / "c")
    w = keep_best_snapshot_writer(root)
    w(_df(spark, [(1, BASE + " sludge")]), 0)
    # 11: near copy with an extra LOW-weight word (worse); 12: exact
    # same text (tie) — both reject, nothing tombstoned. Separate
    # batches: in ONE batch they'd collapse against each other
    # within-batch before ever reaching history classification
    # (the base funnel's min-id rule, deliberately unchanged here).
    w(_df(spark, [(11, BASE + " sludge yyy")]), 1)
    w(_df(spark, [(12, BASE + " sludge")]), 2)
    rej = {r.doc_id: r for r in _read(spark, root, "rejected").collect()}
    assert set(rej) == {11, 12}
    assert all(r.dup_of == 1 for r in rej.values())
    assert _tombs(spark, root) == {}
    assert _live(spark, root) == {1}


def test_exact_dup_with_better_score_supersedes(spark, tmp_path):
    """Repeating a high-weight word changes the mean but not the word
    SET — an exact-fingerprint dup that still wins on quality."""
    root = str(tmp_path / "c")
    w = keep_best_snapshot_writer(root)
    w(_df(spark, [(1, BASE)]), 0)
    w(_df(spark, [(11, BASE + " beta beta")]), 1)
    cls = {
        r.doc_id: r for r in _read(spark, root, "classification").collect()
    }
    assert cls[11].dup_kind == "exact" and cls[11].matched_doc == 1
    assert {d: r.superseded_by for d, r in _tombs(spark, root).items()} == {1: 11}
    assert _live(spark, root) == {11}


def test_replay_idempotent(spark, tmp_path):
    """A replayed batch must not see its own commits as history —
    snapshot_append_writer's batch_id guard + the AS-OF read: every
    output and the log versions stay as they were."""
    root = str(tmp_path / "c")
    w = keep_best_snapshot_writer(root)
    w(_df(spark, [(1, BASE)]), 0)
    batch1 = _df(spark, [(11, BASE + " sludge"), (12, "totally unrelated words entirely")])
    w(batch1, 1)
    snap = lambda: (  # noqa: E731
        {(d, r.superseded_by) for d, r in _tombs(spark, root).items()},
        {r.doc_id for r in _read(spark, root, "rejected").collect()},
        {r.doc_id for r in _log(spark, root, "accepted")},
        _live(spark, root),
        [
            len(snapshot_versions(spark, f"{root}/{t}_log"))
            for t in ("accepted", "tombstones")
        ],
    )
    before = snap()
    assert before[0] == {(1, 11)} and before[3] == {11, 12}
    w(batch1, 1)
    assert snap() == before


def test_maintained_logs_keep_liveness(spark, tmp_path):
    """maintain() is the histories' compaction: folding both logs and
    expiring every older version (keep_latest=1) must not resurrect a
    superseded doc — a folded tombstone still hides its owner from the
    probe, because the fold commits inherit the batch watermark."""
    from football_data_pipeline_spark.sources.snapshots import maintain

    root = str(tmp_path / "c")
    w = keep_best_snapshot_writer(root)
    w(_df(spark, [(1, BASE)]), 0)
    w(_df(spark, [(11, BASE + " sludge")]), 1)  # supersedes 1 (near)
    # 21 repeats a high-weight word: SAME set as 11 (exact dup,
    # higher mean) — the chain's word set must not drift from BASE
    # or generation 3 would fall under the 0.9 verify vs doc 31
    w(_df(spark, [(21, BASE + " sludge beta beta")]), 2)
    for table in ("accepted", "tombstones"):
        audit = maintain(
            spark,
            f"{root}/{table}_log",
            target_rows=1000,
            out_dir=f"{root}/{table}_maintained",
            keep_latest=1,
        )
        assert audit["compacted_version"] is not None, table
        assert len(snapshot_versions(spark, f"{root}/{table}_log")) == 1
    # liveness after folding: a copy of the ORIGINAL text is judged
    # against the current owner 21, not the folded tombstoned 1/11
    w(_df(spark, [(31, BASE)]), 3)
    rej = {r.doc_id: r.dup_of for r in _read(spark, root, "rejected").collect()}
    assert rej[31] == 21
    assert _live(spark, root) == {21}


def test_snapshot_writer_decisions(spark, tmp_path):
    """The keep-best decisions over a fixed 4-batch workout
    (supersession, a live-owner probe, a reject, and a unique) — the
    rows below are what the funnel decided when it still had a
    partition-backed twin, and both agreed."""
    root = str(tmp_path / "snapshot")
    w = keep_best_snapshot_writer(root)
    w(_df(spark, [(1, BASE), (2, "totally different words about football odds")]), 0)
    w(_df(spark, [(11, BASE + " sludge")]), 1)  # supersedes 1
    w(_df(spark, [(21, BASE)]), 2)  # vs LIVE owner 11 → reject
    w(_df(spark, [(31, "another fully unrelated corpus entry here")]), 3)
    cls = sorted(map(tuple, _read(spark, root, "classification").collect()))
    assert cls == [
        (1, None, "unique", None, 0),
        (2, None, "unique", None, 0),
        (11, 1, "near", 0.9091, 1),
        (21, 11, "near", 0.9091, 2),
        (31, None, "unique", None, 3),
    ]
    rej = sorted(map(tuple, _read(spark, root, "rejected").collect()))
    assert rej == [(21, 11, "duplicate_not_better", 2)]
    assert _live(spark, root) == {2, 11, 31}
    assert {(d, r.superseded_by) for d, r in _tombs(spark, root).items()} == {
        (1, 11)
    }


def test_snapshot_writer_crash_between_commits_converges(spark, tmp_path):
    """Crash window: accepted committed, tombstones marker never
    landed. The tombstone is invisible (owner looks live), and the
    REPLAY of that batch must restore it — convergent, not wedged."""
    import shutil

    from football_data_pipeline_spark.sources.snapshots import _marker_path

    root = str(tmp_path / "c")
    w = keep_best_snapshot_writer(root)
    w(_df(spark, [(1, BASE)]), 0)
    batch1 = _df(spark, [(11, BASE + " sludge")])
    w(batch1, 1)
    assert _live(spark, root) == {11}
    # simulate the crash: delete the tombstone commit's marker
    tlog = f"{root}/tombstones_log"
    shutil.rmtree(_marker_path(tlog, snapshot_versions(spark, tlog)[-1]))
    # the tombstone vanished → doc 1 looks live again (crash state)
    assert _live(spark, root) == {1, 11}
    # replay batch 1: accepted's guard skips, tombstones recommit
    w(batch1, 1)
    assert _live(spark, root) == {11}
    assert {(d, r.superseded_by) for d, r in _tombs(spark, root).items()} == {
        (1, 11)
    }


def test_snapshot_histories_time_travel(spark, tmp_path):
    """What the unification buys: the corpus state as of ANY batch is
    one AS-OF read away — no bespoke fold bookkeeping."""
    from football_data_pipeline_spark.streaming.supersede import (
        _snapshot_live_history,
    )

    root = str(tmp_path / "c")
    w = keep_best_snapshot_writer(root)
    w(_df(spark, [(1, BASE)]), 0)
    w(_df(spark, [(11, BASE + " sludge")]), 1)
    w(_df(spark, [(41, "some wholly new content arrives later")]), 2)
    asof = lambda b: {  # noqa: E731
        r.doc_id for r in _snapshot_live_history(spark, root, b).collect()
    }
    assert asof(1) == {1}
    assert asof(2) == {11}
    assert asof(3) == {11, 41}


def test_unique_docs_flow_through_untouched(spark, tmp_path):
    root = str(tmp_path / "c")
    w = keep_best_snapshot_writer(root)
    w(_df(spark, [(1, BASE), (2, "totally different words about football odds")]), 0)
    assert _tombs(spark, root) == {}
    assert _read(spark, root, "rejected").count() == 0
    assert _live(spark, root) == {1, 2}
