"""Streaming exact-substring dedup: cross-batch trim against the
accepted gram index (a snapshot log), within-batch owner rule,
surviving-text indexing, and crash-replay idempotence.
"""

from __future__ import annotations

import hashlib

from football_data_pipeline_spark.sources.snapshots import (
    read_snapshot,
    read_table_before_batch,
    snapshot_versions,
)
from football_data_pipeline_spark.streaming.pipeline import (
    substring_trim_snapshot_writer,
)

import pytest as _pytest_r14

# r14 slow tier: multi-minute e2e file — excluded from the default
# (driver-window) run by pytest.ini; the full suite (-m "") runs it.
pytestmark = _pytest_r14.mark.slow

SCHEMA = "doc_id long, text string, lang string, source string"
K = 8  # MIN_MATCH_WORDS — the writer uses the engine default


def _w(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


RUN = _w("r", 12)


def _trimmed(spark, root, batch_id):
    return {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{root}/trimmed/batch_id={batch_id}").collect()
    }


def test_index_holds_surviving_text_only(spark, tmp_path):
    """A run cut from a later doc must not be indexed AGAIN by that
    doc — and a run cut from EVERY future doc keeps tracing to the
    batch that owns it."""
    root = str(tmp_path / "corpus")
    write = substring_trim_snapshot_writer(root)
    write(spark.createDataFrame([(1, RUN, "en", "s")], SCHEMA), 0)
    write(spark.createDataFrame([(2, RUN + " " + _w("d", 6), "en", "s")], SCHEMA), 1)
    write(spark.createDataFrame([(3, RUN + " " + _w("e", 6), "en", "s")], SCHEMA), 2)
    assert _trimmed(spark, root, 1)[2] == _w("d", 6)
    assert _trimmed(spark, root, 2)[3] == _w("e", 6)
    # batch 1's commit adds only the SURVIVING text's grams — none of
    # RUN's grams re-enter from batch 1 (its survivor is 6 words < k)
    def grams_before(batch_id):
        hist = read_table_before_batch(spark, f"{root}/gram_log", batch_id)
        return sorted(r.g for r in hist.collect())

    assert grams_before(2) == grams_before(1)


def test_crash_replay_idempotent(spark, tmp_path):
    """Re-running a batch produces identical output — the history
    read never sees the batch's own gram commit
    (read_table_before_batch), and the gram log's replay guard skips
    the re-commit."""
    root = str(tmp_path / "corpus")
    write = substring_trim_snapshot_writer(root)
    write(spark.createDataFrame([(1, RUN, "en", "s")], SCHEMA), 0)
    b1 = spark.createDataFrame([(2, RUN + " " + _w("d", 9), "en", "s")], SCHEMA)
    write(b1, 1)
    first = _trimmed(spark, root, 1)
    n_versions = len(snapshot_versions(spark, f"{root}/gram_log"))
    write(b1, 1)  # replay
    assert _trimmed(spark, root, 1) == first == {2: _w("d", 9)}
    assert len(snapshot_versions(spark, f"{root}/gram_log")) == n_versions


def test_snapshot_trim_writer_decisions(spark, tmp_path):
    """The trim decisions over a fixed 3-batch workout (doc 1
    introduces RUN and keeps it; docs 2/3 share a run the min id
    owns; doc 11 quotes RUN and is cut against history; doc 12 is
    clean; doc 21 quotes doc 12) —
    the texts below are what the writer cut when it still had a
    partition-backed twin, and both agreed — and the gram log holds
    exactly the k-grams of the surviving texts."""
    root = str(tmp_path / "snapshot")
    w = substring_trim_snapshot_writer(root)
    w(
        spark.createDataFrame(
            [
                (1, RUN + " " + _w("a", 6), "en", "s0"),
                (2, _w("x", 10), "en", "s0"),
                (3, _w("x", 10) + " " + _w("t", 4), "en", "s0"),
            ],
            SCHEMA,
        ),
        0,
    )
    w(
        spark.createDataFrame(
            [(11, _w("b", 5) + " " + RUN, "en", "s1"), (12, _w("c", 15), "en", "s1")],
            SCHEMA,
        ),
        1,
    )
    w(spark.createDataFrame([(21, _w("c", 15) + " " + _w("z", 3), "en", "s2")], SCHEMA), 2)
    assert _trimmed(spark, root, 0) == {
        1: RUN + " " + _w("a", 6),
        2: _w("x", 10),
        3: _w("t", 4),
    }
    assert _trimmed(spark, root, 1) == {11: _w("b", 5), 12: _w("c", 15)}
    assert _trimmed(spark, root, 2) == {21: _w("z", 3)}
    # non-text columns survive the trim join
    row = spark.read.parquet(f"{root}/trimmed/batch_id=1").filter("doc_id = 11").first()
    assert row.lang == "en" and row.source == "s1"
    # grams of the texts long enough to hold one (md5 of each k-word
    # window, substring._doc_grams)
    survivors = [RUN + " " + _w("a", 6), _w("x", 10), _w("c", 15)]
    want = {
        hashlib.md5(" ".join(ws[i : i + K]).encode()).hexdigest()
        for ws in (t.split() for t in survivors)
        for i in range(len(ws) - K + 1)
    }
    assert len(want) == 22
    assert {r.g for r in read_snapshot(spark, f"{root}/gram_log").collect()} == want


def test_duplicate_ids_and_metadata_honesty(spark, tmp_path):
    """Same-id re-collections collapse to one row, and n_chars is
    re-derived from the trimmed text."""
    root = str(tmp_path / "corpus")
    write = substring_trim_snapshot_writer(root)
    write(
        spark.createDataFrame([(1, RUN, "en", "s", len(RUN))],
                              SCHEMA + ", n_chars long"),
        0,
    )
    kept_tail = _w("d", 6)
    b1 = spark.createDataFrame(
        [
            (2, RUN + " " + kept_tail, "en", "s", len(RUN) + 1 + len(kept_tail)),
            (2, RUN + " " + kept_tail, "en", "s", len(RUN) + 1 + len(kept_tail)),
        ],
        SCHEMA + ", n_chars long",
    )
    write(b1, 1)
    rows = spark.read.parquet(f"{root}/trimmed/batch_id=1").collect()
    assert len(rows) == 1  # duplicate id collapsed, no join fan-out
    [r] = rows
    assert r.text == kept_tail
    assert r.n_chars == len(kept_tail)  # re-derived post-trim
