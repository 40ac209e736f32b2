"""T1 end-to-end: bronze JSON stream → foreachBatch → silver tables,
driven twice to check incremental upsert semantics across micro-
batches (replace for teams, insert-if-absent for leagues/fixtures,
append for facts).
"""

from __future__ import annotations

import copy
import json

from pyspark.sql import functions as F

from football_data_pipeline_spark.streaming.pipeline import start_pipeline

from .test_flatten import DEMO_DOC

import pytest as _pytest_r14

# r14 slow tier: multi-minute e2e file — excluded from the default
# (driver-window) run by pytest.ini; the full suite (-m "") runs it.
pytestmark = _pytest_r14.mark.slow


def _write_doc(dirpath, name: str, doc: dict) -> None:
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / name).write_text(json.dumps(doc))


def _run_drain(spark, src, silver, ckpt):
    q = start_pipeline(spark, str(src), str(silver), str(ckpt), trigger=None)
    q.awaitTermination(120)
    assert not q.isActive


def test_pipeline_fans_out_and_upserts(spark, tmp_path):
    src, silver, ckpt = tmp_path / "bronze", tmp_path / "silver", tmp_path / "ckpt"

    _write_doc(src, "doc1.json", DEMO_DOC)
    _run_drain(spark, src, silver, ckpt)

    teams = {r.id: r for r in spark.read.parquet(f"{silver}/teams").collect()}
    assert set(teams) == {33, 40}
    assert teams[33].name == "Manchester United"
    fixtures = spark.read.parquet(f"{silver}/fixtures").collect()
    assert [f.id for f in fixtures] == [999999]
    assert fixtures[0].venue_name == "Old Trafford"
    leagues = spark.read.parquet(f"{silver}/leagues").collect()
    assert [(lg.id, lg.name) for lg in leagues] == [(39, "Premier League")]
    odds = spark.read.parquet(f"{silver}/odds_history").collect()
    assert len(odds) == 1 and odds[0].bookmaker == "Bet365"
    assert odds[0].home_odds == 2.1

    # second micro-batch: same fixture re-collected later with a
    # renamed home team and different venue
    doc2 = copy.deepcopy(DEMO_DOC)
    doc2["collection_type"] = "final_data"
    doc2["collected_at"] = "2024-02-15T14:00:00+00:00"
    doc2["game_info"]["home_team"] = "Man Utd"
    doc2["game_info"]["venue"] = "Somewhere Else"
    _write_doc(src, "doc2.json", doc2)
    _run_drain(spark, src, silver, ckpt)

    teams = {r.id: r for r in spark.read.parquet(f"{silver}/teams").collect()}
    assert teams[33].name == "Man Utd"  # U1: latest document replaced
    fixtures = spark.read.parquet(f"{silver}/fixtures").collect()
    assert len(fixtures) == 1
    assert fixtures[0].venue_name == "Old Trafford"  # U3: first kept
    # append-only fact grew by the second snapshot
    odds = spark.read.parquet(f"{silver}/odds_history").collect()
    assert len(odds) == 2
    # checkpoint: draining again with no new files writes nothing
    _run_drain(spark, src, silver, ckpt)
    assert len(spark.read.parquet(f"{silver}/odds_history").collect()) == 2


def test_dedup_stream_drops_within_watermark(spark, tmp_path):
    """Duplicate ids arriving across micro-batches inside the
    watermark are dropped; the first arrival's payload survives."""
    import json as _json

    from football_data_pipeline_spark.streaming.pipeline import dedup_stream

    src = tmp_path / "events"
    src.mkdir()
    rows1 = [
        {"event_id": 1, "ts": "2024-03-01 12:00:00", "value": 1.0},
        {"event_id": 2, "ts": "2024-03-01 12:01:00", "value": 2.0},
        {"event_id": 1, "ts": "2024-03-01 12:02:00", "value": 99.0},  # dup in-batch
    ]
    rows2 = [
        {"event_id": 2, "ts": "2024-03-01 12:10:00", "value": 88.0},  # dup cross-batch
        {"event_id": 3, "ts": "2024-03-01 12:11:00", "value": 3.0},
    ]
    import os
    import time

    # two files, forced into TWO micro-batches of one availableNow run
    # via maxFilesPerTrigger=1 (file order pinned by mtime), so the
    # cross-batch duplicate must be caught by dedup STATE
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in rows2))
    now = time.time()
    os.utime(src / "b1.json", (now - 100, now - 100))
    os.utime(src / "b2.json", (now, now))
    stream = (
        spark.readStream.schema("event_id long, ts string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    deduped = dedup_stream(stream, ["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is None or not q.isActive
    out = {r.event_id: r.value for r in spark.sql("SELECT * FROM dedup_out").collect()}
    # in-batch dup of id 1 dropped (first arrival 1.0 kept);
    # cross-batch dup of id 2 suppressed by watermark state
    assert out == {1: 1.0, 2: 2.0, 3: 3.0}


def test_dedup_stream_batch_fallback(spark):
    from football_data_pipeline_spark.streaming.pipeline import dedup_stream

    df = spark.createDataFrame(
        [(1, "2024-03-01 12:00:00", 1.0), (1, "2024-03-01 12:05:00", 9.0)],
        "event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert dedup_stream(df, ["event_id"]).count() == 1


def test_fact_writes_idempotent_per_batch(spark, tmp_path):
    """Re-running a micro-batch (crash-restart replay) overwrites its
    own batch_id partition instead of appending duplicates."""
    from football_data_pipeline_spark.sources.ingest import read_collections
    from football_data_pipeline_spark.streaming.pipeline import silver_batch_writer

    src = tmp_path / "bronze"
    _write_doc(src, "doc1.json", DEMO_DOC)
    bronze = read_collections(spark, str(src))
    writer = silver_batch_writer(str(tmp_path / "silver"))
    writer(bronze, batch_id=7)
    writer(bronze, batch_id=7)  # replay of the same batch
    odds = spark.read.parquet(str(tmp_path / "silver" / "odds_history")).collect()
    assert len(odds) == 1  # not duplicated
    assert odds[0].batch_id == 7


def test_streaming_incremental_dedup(spark, tmp_path):
    """Two document micro-batches through the incremental-dedup
    stream: batch 2's exact copy and near copy of accepted batch-1
    docs are rejected, its fresh doc is accepted; within-batch exact
    duplicates collapse before classification."""
    import time

    from football_data_pipeline_spark.streaming.pipeline import start_dedup_pipeline

    src = str(tmp_path / "docs_src")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt_dedup")

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [
            (1, base, "en", "s", len(base)),
            (2, "totally different words here about football and odds", "en", "s", 50),
            (3, base, "en", "s", len(base)),  # within-batch exact dup of 1
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    b1.coalesce(1).write.parquet(src)
    time.sleep(1.1)
    # doc 10 is exact-dup of accepted 2; doc 11 is NEAR-dup of
    # accepted 1 (and of nothing in its own batch — a batch-mate near
    # pair would collapse within-batch before classification)
    b2 = spark.createDataFrame(
        [
            (10, "totally different words here about football and odds", "en", "s", 50),
            (11, base + " extraword", "en", "s", 60),           # near dup of 1 (jaccard 10/11)
            (12, "completely novel content nothing shared at all", "en", "s", 46),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    q = start_dedup_pipeline(spark, src, corpus, ckpt)
    q.awaitTermination(180)

    cls = spark.read.option("basePath", f"{corpus}/classification").parquet(
        f"{corpus}/classification"
    )
    rows = {r["doc_id"]: r for r in cls.collect()}
    # batch 1: doc 3 collapsed within-batch (absent), 1 and 2 unique
    assert 3 not in rows
    assert rows[1]["dup_kind"] == "unique" and rows[2]["dup_kind"] == "unique"
    # batch 2 vs accepted history
    assert rows[10]["dup_kind"] == "exact" and rows[10]["matched_doc"] == 2
    assert rows[11]["dup_kind"] == "near" and rows[11]["matched_doc"] == 1
    assert rows[11]["jaccard"] >= 0.9
    assert rows[12]["dup_kind"] == "unique"

    assert _corpus(spark, corpus) == [1, 2, 12]


SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _corpus(spark, root):
    """doc_ids of the latest committed accepted corpus."""
    from football_data_pipeline_spark.streaming.pipeline import (
        read_corpus_snapshot,
    )

    return sorted(r["doc_id"] for r in read_corpus_snapshot(spark, root).collect())


def _cls(spark, root, batch_id):
    return sorted(
        (r["doc_id"], r["dup_kind"])
        for r in spark.read.parquet(
            f"{root}/classification/batch_id={batch_id}"
        ).collect()
    )


def _replay_batches(spark):
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon", "en", "s", 30)], SCHEMA
    )
    b1 = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon", "en", "s", 30),
         (11, "novel totally different content here", "en", "s", 36)],
        SCHEMA,
    )
    return b0, b1


def test_incremental_dedup_batch_replay_idempotent(spark, tmp_path):
    """Crash-restart semantics: re-running a micro-batch with the same
    batch_id must produce the identical classification — the history
    read is AS OF the newest commit before the current batch, so the
    batch cannot classify against its own commit, and the accepted
    log's replay guard skips the re-commit."""
    from football_data_pipeline_spark.sources.snapshots import snapshot_versions
    from football_data_pipeline_spark.streaming.pipeline import (
        dedup_snapshot_writer,
    )

    corpus = str(tmp_path / "corpus")
    writer = dedup_snapshot_writer(corpus)
    b0, b1 = _replay_batches(spark)
    writer(b0, 0)
    writer(b1, 1)
    first = _cls(spark, corpus, 1)
    n_versions = len(snapshot_versions(spark, f"{corpus}/accepted_log"))
    writer(b1, 1)  # replay batch 1
    assert first == _cls(spark, corpus, 1) == [(10, "exact"), (11, "unique")]
    assert _corpus(spark, corpus) == [1, 11]
    assert len(snapshot_versions(spark, f"{corpus}/accepted_log")) == n_versions


def test_incremental_dedup_crash_between_classify_and_accept(spark, tmp_path):
    """VERDICT r3 item 8: a crash AFTER the classification write but
    BEFORE the accepted commit's marker (the window between the two
    outputs) must replay to the same state — no duplicate accepted
    docs, no self-classification against the batch's own partial
    output."""
    import shutil

    from football_data_pipeline_spark.sources.snapshots import (
        _marker_path,
        snapshot_versions,
    )
    from football_data_pipeline_spark.streaming.pipeline import (
        dedup_snapshot_writer,
    )

    corpus = str(tmp_path / "corpus")
    log = f"{corpus}/accepted_log"
    writer = dedup_snapshot_writer(corpus)
    b0, b1 = _replay_batches(spark)
    writer(b0, 0)
    writer(b1, 1)
    # simulate the crash window: classification/batch_id=1 and the
    # accepted data files landed, the commit marker did not
    shutil.rmtree(_marker_path(log, snapshot_versions(spark, log)[-1]))
    assert _corpus(spark, corpus) == [1]
    writer(b1, 1)  # restart replays the batch
    assert _cls(spark, corpus, 1) == [(10, "exact"), (11, "unique")]
    assert _corpus(spark, corpus) == [1, 11]  # exactly once


def test_incremental_dedup_within_batch_near_dups(spark, tmp_path):
    """ADVICE r3: two NON-identical near-copies arriving in the same
    micro-batch must not both be accepted — the within-batch near
    pass keeps the min doc_id per component."""
    from football_data_pipeline_spark.streaming.pipeline import (
        dedup_snapshot_writer,
    )

    corpus = str(tmp_path / "corpus")
    writer = dedup_snapshot_writer(corpus)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch = spark.createDataFrame(
        [
            (20, base, "en", "s", len(base)),
            (21, base + " extraword", "en", "s", 60),  # near copy of 20 (jac 10/11)
            (22, "unrelated fresh text about something else entirely", "en", "s", 50),
        ],
        SCHEMA,
    )
    writer(batch, 0)
    assert _corpus(spark, corpus) == [20, 22]


def test_curation_writer_gates_redacts_dedups_and_replays(spark, tmp_path):
    """The full streaming curation funnel: low-quality docs land in
    rejected/ with scores; survivors get PII-redacted before entering
    the dedup stage; duplicates of accepted history are refused; and
    replaying a batch (crash-restart) reproduces the identical state.
    The accepted corpus is the dedup funnel's snapshot table.

    Token weights are the classifier's deterministic md5 weights:
    'alpha beta delta' sums +1.304 (keep), 'gamma epsilon theta'
    sums -2.451 (reject)."""
    from football_data_pipeline_spark.streaming.pipeline import (
        curation_batch_writer,
        read_corpus_snapshot,
    )

    corpus = str(tmp_path / "corpus")
    writer = curation_batch_writer(corpus)
    good = "alpha beta delta mango grape lime peach"  # strongly positive
    b0 = spark.createDataFrame(
        [
            (1, good + " reach user@example.com now", "en", "s", 0),
            (2, "gamma epsilon theta kiwi cherry contact", "en", "s", 0),  # negative
        ],
        SCHEMA,
    )
    b1 = spark.createDataFrame(
        [
            # same word SET as accepted doc 1 (order differs) → exact dup.
            # NB the dup is against the REDACTED text: the raw email
            # token was rewritten before doc 1 entered the corpus, so
            # the copy must carry the placeholder to collide.
            (10, "now reach <EMAIL> " + good, "en", "s", 0),
            (11, "omega sigma plum lemon write totally novel", "en", "s", 0),
        ],
        SCHEMA,
    )
    writer(b0, 0)
    writer(b1, 1)

    rejected = spark.read.option("basePath", f"{corpus}/rejected").parquet(
        f"{corpus}/rejected"
    )
    rej = {r.doc_id: r for r in rejected.collect()}
    assert set(rej) == {2}
    assert rej[2].score < 0

    acc = {r.doc_id: r for r in read_corpus_snapshot(spark, corpus).collect()}
    assert set(acc) == {1, 11}
    # the accepted text is the REDACTED form, with metadata recomputed
    assert "<EMAIL>" in acc[1].text and "user@example.com" not in acc[1].text
    assert acc[1].n_chars == len(acc[1].text)
    assert _cls(spark, corpus, 1) == [(10, "exact"), (11, "unique")]

    # crash-restart: replaying batch 1 reproduces the identical state
    writer(b1, 1)
    assert _corpus(spark, corpus) == [1, 11]
    assert _cls(spark, corpus, 1) == [(10, "exact"), (11, "unique")]


def test_dedup_snapshot_writer_decisions_and_replay(spark, tmp_path):
    """The dedup funnel's decisions over a fixed two-batch sequence
    (the rows below are what the funnel decided when it still had a
    partition-backed twin, and both agreed), idempotent replay, and
    AS-OF time travel over the corpus."""
    from football_data_pipeline_spark.sources.snapshots import (
        read_table_before_batch,
    )
    from football_data_pipeline_spark.streaming.pipeline import (
        dedup_snapshot_writer,
    )

    batches = [
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon", "en", "s", 30),
             (2, "unrelated words about football odds", "en", "s", 35)],
            SCHEMA,
        ),
        spark.createDataFrame(
            [(10, "alpha beta gamma delta epsilon", "en", "s", 30),
             (11, "novel totally different content here", "en", "s", 36)],
            SCHEMA,
        ),
    ]
    root = str(tmp_path / "snapshot")
    w = dedup_snapshot_writer(root)
    for i, b in enumerate(batches):
        w(b, i)
    expected = [
        [(1, None, "unique", None), (2, None, "unique", None)],
        [(10, 1, "exact", 1.0), (11, None, "unique", None)],
    ]
    for i, rows in enumerate(expected):
        got = sorted(
            (r["doc_id"], r["matched_doc"], r["dup_kind"], r["jaccard"])
            for r in spark.read.parquet(
                f"{root}/classification/batch_id={i}"
            ).collect()
        )
        assert got == rows, i
    assert _corpus(spark, root) == [1, 2, 11]
    # replay batch 1: the log's guard skips, classification rewrites
    # the same rows — nothing changes
    w(batches[1], 1)
    assert _corpus(spark, root) == [1, 2, 11]
    # the corpus as of batch 1 is one AS-OF read
    asof = read_table_before_batch(spark, f"{root}/accepted_log", 1)
    assert sorted(r["doc_id"] for r in asof.collect()) == [1, 2]


def test_maintained_accepted_log_classifies_like_uncompacted(spark, tmp_path):
    """maintain() is the corpus history's compaction: folding the
    accepted log mid-sequence and expiring every older version
    (keep_latest=1) must not change a single classification — the
    fold commit inherits the batch watermark, so the next batch's
    AS-OF probe still sees the whole history."""
    from football_data_pipeline_spark.sources.snapshots import (
        maintain,
        snapshot_versions,
    )
    from football_data_pipeline_spark.streaming.pipeline import (
        dedup_snapshot_writer,
    )

    texts = [
        (i, f"totally distinct document number {i} "
         + " ".join(f"w{i}x{j}" for j in range(30)))
        for i in range(12)
    ]
    batches = [
        texts[0:3],
        texts[3:6] + [texts[1]],  # dup of a batch-0 doc
        texts[6:9] + [texts[4]],  # dup of a batch-1 doc
        texts[9:12] + [texts[7]],  # dup of a batch-2 doc
    ]
    ra, rb = str(tmp_path / "maintained"), str(tmp_path / "plain")
    wa, wb = dedup_snapshot_writer(ra), dedup_snapshot_writer(rb)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(d, t, "en", "web") for d, t in rows],
            "doc_id long, text string, lang string, source string",
        )
        wa(df, i)
        wb(df, i)
        if i == 1:
            audit = maintain(
                spark,
                f"{ra}/accepted_log",
                target_rows=1000,
                out_dir=f"{ra}/accepted_maintained",
                keep_latest=1,
            )
            assert audit["compacted_version"] is not None
            assert len(snapshot_versions(spark, f"{ra}/accepted_log")) == 1
    dup_of_history = {1: 1, 2: 4, 3: 7}
    for i in range(len(batches)):
        assert _cls(spark, ra, i) == _cls(spark, rb, i), i
        want = sorted(
            (d, "exact" if d == dup_of_history.get(i) else "unique")
            for d, _ in batches[i]
        )
        assert _cls(spark, ra, i) == want, i
    assert _corpus(spark, ra) == _corpus(spark, rb) == list(range(12))
