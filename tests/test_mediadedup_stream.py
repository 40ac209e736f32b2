"""Streaming media near-dup funnel (streaming/mediadedup.py):
cross-batch history screening, within-batch component resolution,
mixed-kind fingerprinting (image dHash / audio envelope / video
frame bridge), unknown-kind audit, replay idempotence, accepted-only
indexing, the fp index snapshot log under maintain(), and the
end-to-end readStream wiring.
"""

from __future__ import annotations

import struct

from football_data_pipeline_spark.operators.audio import encode_wav
from football_data_pipeline_spark.operators.multimodal import encode_ppm
from football_data_pipeline_spark.operators.video import encode_y4m
from football_data_pipeline_spark.sources.snapshots import (
    read_snapshot,
    snapshot_versions,
)
from football_data_pipeline_spark.streaming.mediadedup import (
    media_curation_snapshot_writer,
    media_dedup_snapshot_writer,
    media_fingerprints,
    start_media_dedup_pipeline,
)

import pytest as _pytest_r14

# r14 slow tier: multi-minute e2e file — excluded from the default
# (driver-window) run by pytest.ini; the full suite (-m "") runs it.
pytestmark = _pytest_r14.mark.slow

SCHEMA = "asset_id long, kind string, payload binary"


def _ppm(seed: int, flips: int = 0) -> bytes:
    """16x16 gray image whose dHash is seed-determined; ``flips``
    perturbs a few late comparisons to land within Hamming <= 3."""
    rgb = bytearray()
    for y in range(16):
        for x in range(16):
            v = (seed * 31 + y * 16 + x * 7) % 200 + 20
            if flips and y >= 14:
                v = (v + 40 * flips) % 200 + 20
            rgb += bytes((v, v, v))
    return encode_ppm(16, 16, bytes(rgb))


def _tone(pattern: int) -> bytes:
    """WAV whose 64 envelope bits repeat the byte ``pattern`` (the
    audiodedup synth shape, inlined for independence)."""
    bits = []
    for _ in range(8):
        bits += [(pattern >> (7 - i)) & 1 for i in range(8)]
    amp, samples = 1000, []
    for j in range(65):
        if j:
            amp += 100 * bits[j - 1]
        samples += [amp] * 25
    return encode_wav(8000, 1, struct.pack(f"<{len(samples)}h", *samples))


def _clip(seed: int) -> bytes:
    """Y4M clip of 8 constant-luma frames keyed by seed."""
    return encode_y4m(16, 16, 25, [bytes([(seed * 31 + k * 17) % 256]) * 256 for k in range(8)])


def _read(spark, root, sub):
    """A batchId-keyed audit table (rejected, accepted, media_drops,
    media_assets)."""
    return spark.read.option("basePath", f"{root}/{sub}").parquet(f"{root}/{sub}")


def _fp_index(spark, root):
    """(asset_id, fp_seq) of the latest committed fp index snapshot."""
    return {
        (r.asset_id, r.fp_seq)
        for r in read_snapshot(spark, f"{root}/fp_log").collect()
    }


def test_within_batch_owner_and_near_miss(spark, tmp_path):
    root = str(tmp_path / "m")
    w = media_dedup_snapshot_writer(root)
    # 21/22 identical, 23 a near-dup of them (<=3 bits), 24 unrelated
    batch = spark.createDataFrame(
        [
            (21, "image", _ppm(5)),
            (22, "image", _ppm(5)),
            (23, "image", _ppm(5, flips=1)),
            (24, "image", _ppm(77)),
        ],
        SCHEMA,
    )
    w(batch, 0)
    rej = {r.asset_id: r for r in _read(spark, root, "rejected").collect()}
    acc = {r.asset_id for r in _read(spark, root, "accepted").collect()}
    assert 21 in acc and 24 in acc
    assert set(rej) == {22, 23}
    assert rej[22].dup_of == 21 and rej[22].hamming == 0
    assert rej[23].dup_of == 21 and 1 <= rej[23].hamming <= 3
    assert all(r.scope == "batch" for r in rej.values())
    # only ACCEPTED fingerprints are indexed
    assert {a for a, _ in _fp_index(spark, root)} == {21, 24}


def test_unknown_and_null_kind_audited_never_silent(spark, tmp_path):
    root = str(tmp_path / "m")
    w = media_dedup_snapshot_writer(root)
    batch = spark.createDataFrame(
        [(31, "gif", b"GIF89a"), (32, None, b"???"), (33, "image", _ppm(2))],
        SCHEMA,
    )
    w(batch, 0)
    rej = {r.asset_id: r for r in _read(spark, root, "rejected").collect()}
    acc = {r.asset_id for r in _read(spark, root, "accepted").collect()}
    assert set(rej) == {31, 32} and acc == {33}
    assert rej[31].kind == "gif" and rej[32].kind == "unknown"
    assert all(
        r.scope == "unknown_kind" and r.dup_of is None for r in rej.values()
    )


def test_replay_idempotent_and_duplicate_ids_collapse(spark, tmp_path):
    root = str(tmp_path / "m")
    w = media_dedup_snapshot_writer(root)
    batch0 = spark.createDataFrame([(1, "image", _ppm(8))], SCHEMA)
    w(batch0, 0)
    # batch 1 carries a same-id re-collection + a history dup
    batch1 = spark.createDataFrame(
        [(2, "image", _ppm(50)), (2, "image", _ppm(50)), (3, "image", _ppm(8))],
        SCHEMA,
    )
    w(batch1, 1)
    snap = lambda: (  # noqa: E731
        {(r.asset_id, r.dup_of, r.scope) for r in _read(spark, root, "rejected").collect()},
        {r.asset_id for r in _read(spark, root, "accepted").collect()},
        _fp_index(spark, root),
        len(snapshot_versions(spark, f"{root}/fp_log")),
    )
    before = snap()
    assert before[0] == {(3, 1, "history")}
    assert before[1] == {1, 2}
    # crash-replay of batch 1 reproduces identical state (batch 1
    # must not see its OWN fp commit as history, and the log's replay
    # guard skips the re-commit)
    w(batch1, 1)
    assert snap() == before


def test_video_frames_bridge_matches_on_any_frame(spark, tmp_path):
    """A clip sharing sampled-frame content with an accepted clip is
    caught even when other frames differ (frame-level fingerprints,
    asset-level resolution)."""
    root = str(tmp_path / "m")
    w = media_dedup_snapshot_writer(root)
    # same luma sequence -> same frame hashes (flat frames hash 0,
    # so ANY constant-luma clip collides at hamming 0 — fine: the
    # test pins asset-level lift, not dHash discrimination)
    w(spark.createDataFrame([(1, "video", _clip(9))], SCHEMA), 0)
    w(spark.createDataFrame([(2, "video", _clip(9))], SCHEMA), 1)
    rej = {r.asset_id: r for r in _read(spark, root, "rejected").collect()}
    assert rej[2].dup_of == 1 and rej[2].scope == "history"
    # the fp index carries one row per sampled frame for the video tier
    assert {seq for a, seq in _fp_index(spark, root) if a == 1} == {0, 4}


def test_maintained_fp_log_still_screens(spark, tmp_path):
    """maintain() folds the fp index and expires every older version
    (keep_latest=1); history screening still sees the folded batches,
    because the fold commit inherits the batch watermark."""
    from football_data_pipeline_spark.sources.snapshots import maintain

    root = str(tmp_path / "m")
    w = media_dedup_snapshot_writer(root)
    w(spark.createDataFrame([(1, "audio", _tone(0x11))], SCHEMA), 0)
    w(spark.createDataFrame([(2, "audio", _tone(0x22))], SCHEMA), 1)
    w(spark.createDataFrame([(3, "audio", _tone(0x33))], SCHEMA), 2)
    audit = maintain(
        spark, f"{root}/fp_log", target_rows=1000,
        out_dir=f"{root}/fp_maintained", keep_latest=1,
    )
    assert audit["compacted_version"] is not None
    assert len(snapshot_versions(spark, f"{root}/fp_log")) == 1
    w(spark.createDataFrame([(4, "audio", _tone(0x11))], SCHEMA), 3)
    rej = {r.asset_id: r.dup_of for r in _read(spark, root, "rejected").collect()}
    assert rej == {4: 1}


def test_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    root = str(tmp_path / "m")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "image", _ppm(6)), (2, "audio", _tone(0x0F))], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, "image", _ppm(6)), (4, "gif", b"x")], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_media_dedup_pipeline(spark, src, root, ckpt)
    q.awaitTermination(180)
    rej = {r.asset_id: r.scope for r in _read(spark, root, "rejected").collect()}
    acc = {r.asset_id for r in _read(spark, root, "accepted").collect()}
    # closure across batches: every asset in exactly one side
    assert rej.keys() | acc == {1, 2, 3, 4}
    assert rej.keys() & acc == set()
    assert rej[4] == "unknown_kind"
    # 3 is a dup of 1 whichever micro-batch boundary the source got
    assert rej[3] in {"history", "batch"}


def test_snapshot_media_writer_decisions(spark, tmp_path):
    """The screening decisions over a fixed 3-batch workout (three
    kinds accepted; byte-identical copies of each kind rejected
    against history, per kind, plus a fresh image; a within-batch
    near pair) — the rows below are what the writer
    decided when it still had a partition-backed twin, and both
    agreed."""
    root = str(tmp_path / "snapshot")
    w = media_dedup_snapshot_writer(root)
    w(
        spark.createDataFrame(
            [(1, "image", _ppm(3)), (2, "audio", _tone(0x5A)), (3, "video", _clip(9))],
            SCHEMA,
        ),
        0,
    )
    w(
        spark.createDataFrame(
            [
                (11, "image", _ppm(3)),
                (12, "audio", _tone(0x5A)),
                (13, "video", _clip(9)),
                (14, "image", _ppm(40)),
            ],
            SCHEMA,
        ),
        1,
    )
    w(
        spark.createDataFrame(
            [(21, "image", _ppm(5)), (22, "image", _ppm(5, flips=1))], SCHEMA
        ),
        2,
    )
    rej = sorted(
        (r.asset_id, r.kind, r.dup_of, r.hamming, r.scope, r.batch_id)
        for r in _read(spark, root, "rejected").collect()
    )
    assert rej == [
        (11, "image", 1, 0, "history", 1),
        (12, "audio", 2, 0, "history", 1),
        (13, "video", 3, 0, "history", 1),
        (22, "image", 21, 1, "batch", 2),
    ]
    acc = sorted(
        (r.asset_id, r.kind, r.batch_id)
        for r in _read(spark, root, "accepted").collect()
    )
    assert acc == [
        (1, "image", 0), (2, "audio", 0), (3, "video", 0),
        (14, "image", 1), (21, "image", 2),
    ]
    assert _fp_index(spark, root) == {
        (1, 0), (2, 0), (3, 0), (3, 4), (14, 0), (21, 0),
    }


def test_snapshot_curation_writer_decisions(spark, tmp_path):
    """The curation composition (gate → dedup) over two batches — the
    drops and keeps below are what it decided when it still had a
    partition-backed twin, and both agreed."""
    flat = encode_ppm(16, 16, bytes([9, 9, 9]) * 256)
    root = str(tmp_path / "snapshot")
    w = media_curation_snapshot_writer(root)
    w(
        spark.createDataFrame(
            [(1, "image", _ppm(4)), (2, "image", flat), (4, "gif", b"GIF89a")],
            SCHEMA,
        ),
        0,
    )
    w(spark.createDataFrame([(11, "image", _ppm(4))], SCHEMA), 1)
    drops = sorted(
        (r.asset_id, r.kind, r.reason, r.dup_of, r.hamming, r.scope, r.batch_id)
        for r in _read(spark, root, "media_drops").collect()
    )
    assert drops == [
        (2, "image", "flat", None, None, None, 0),
        (4, "gif", "unknown_kind", None, None, None, 0),
        (11, "image", "near_duplicate", 1, 0, "history", 1),
    ]
    kept = sorted(
        (r.asset_id, r.kind, r.batch_id)
        for r in _read(spark, root, "media_assets").collect()
    )
    assert kept == [(1, "image", 0)]


def test_curation_writer_gate_then_dedup_closure(spark, tmp_path):
    """The combined gate→dedup funnel: quality rejects carry the
    gate verdict, gate-passed dups carry near_duplicate + owner,
    survivors + index hold only gate-passed non-dups, closure holds
    across batches, and replay is idempotent."""
    root = str(tmp_path / "m")
    w = media_curation_snapshot_writer(root)
    flat = encode_ppm(16, 16, bytes([9, 9, 9]) * 256)
    batch0 = spark.createDataFrame(
        [
            (1, "image", _ppm(4)),     # keep
            (2, "image", flat),        # gate: flat
            (3, "image", _ppm(4)),     # within-batch dup of 1
            (4, "gif", b"GIF89a"),     # gate: unknown_kind
        ],
        SCHEMA,
    )
    w(batch0, 0)
    batch1 = spark.createDataFrame(
        [
            (11, "image", _ppm(4)),    # history dup of 1
            (12, "image", flat),       # gate: flat — must NOT be
                                       # screened or indexed
        ],
        SCHEMA,
    )
    w(batch1, 1)
    drops = {r.asset_id: r for r in _read(spark, root, "media_drops").collect()}
    kept = {r.asset_id for r in _read(spark, root, "media_assets").collect()}
    assert kept == {1}
    assert {a: r.reason for a, r in drops.items()} == {
        2: "flat",
        3: "near_duplicate",
        4: "unknown_kind",
        11: "near_duplicate",
        12: "flat",
    }
    assert drops[3].dup_of == 1 and drops[3].scope == "batch"
    assert drops[11].dup_of == 1 and drops[11].scope == "history"
    assert drops[2].dup_of is None and drops[2].hamming is None
    # closure: every asset in exactly one side
    assert drops.keys() | kept == {1, 2, 3, 4, 11, 12}
    assert drops.keys() & kept == set()
    # only gate-passed non-dups are indexed
    assert {a for a, _ in _fp_index(spark, root)} == {1}
    # crash-replay of batch 1 reproduces identical state
    w(batch1, 1)
    assert {
        a: r.reason
        for a, r in {
            r.asset_id: r
            for r in _read(spark, root, "media_drops").collect()
        }.items()
    } == {a: r.reason for a, r in drops.items()}


def test_history_probe_plan_shape(spark):
    """100 TB signals of the classification stage's LAZY remainder
    (the within-batch pair stage is eagerly checkpointed and locked
    by the _phash_pair_plan pytest): the history probe must be
    band-keyed equi joins — never a cartesian/nested-loop pairing of
    batch x history."""
    from football_data_pipeline_spark.streaming.mediadedup import (
        media_dup_rejects,
        media_fingerprints,
    )

    batch = spark.createDataFrame(
        [(1, "image", _ppm(1)), (2, "audio", _tone(0x10))], SCHEMA
    )
    hist = spark.createDataFrame([(90, "image", _ppm(1))], SCHEMA)
    rejects = media_dup_rejects(
        media_fingerprints(batch).localCheckpoint(),
        media_fingerprints(hist).localCheckpoint(),
    )
    plan = rejects._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and the classification is right while we're here
    got = {r.asset_id: r for r in rejects.collect()}
    assert set(got) == {1}
    assert got[1].dup_of == 90 and got[1].scope == "history"


def test_cross_kind_fingerprint_collision_never_pairs(spark, tmp_path):
    """Identical 64-bit fingerprints across KINDS must not pair — at
    corpus scale cross-kind collisions are a birthday certainty.
    Identical BYTES under different kinds hit the md5 fallback on
    both paths (undecodable as image AND as audio), producing equal
    fingerprints — neither within-batch nor against history may that
    become a rejection."""
    root = str(tmp_path / "m")
    w = media_dedup_snapshot_writer(root)
    blob = b"same bytes, different modality"
    # within one batch
    w(spark.createDataFrame([(1, "image", blob), (2, "audio", blob)], SCHEMA), 0)
    # and across history: same blob arrives again under the OTHER kind
    w(spark.createDataFrame([(3, "audio", blob)], SCHEMA), 1)
    rej = {r.asset_id: r for r in _read(spark, root, "rejected").collect()}
    acc = {r.asset_id for r in _read(spark, root, "accepted").collect()}
    # 3 IS a (byte-exact, md5-fallback) dup of 2 — same kind; 1 never
    # pairs with either despite the identical fingerprint
    assert acc == {1, 2}
    assert set(rej) == {3}
    assert rej[3].dup_of == 2 and rej[3].scope == "history"


def test_video_fingerprints_fused_equals_bridge_and_falls_back(spark):
    """The fused Y4M→dHash kernel must be bit-identical to the batch
    bridge (sample_frames_y4m → PPM → image_phash) on planted-hash
    clips, and undecodable clips must emit ONE md5-fallback row
    instead of vanishing."""
    from pyspark.sql import functions as F

    from football_data_pipeline_spark.operators.multimodal import image_phash
    from football_data_pipeline_spark.operators.video import (
        sample_frames_y4m,
        synth_patterned_clips,
    )
    from football_data_pipeline_spark.streaming.mediadedup import (
        media_fingerprints,
        video_fingerprints,
    )

    docs = spark.createDataFrame([(d,) for d in range(12)], "doc_id long")
    clips = synth_patterned_clips(docs)
    fused = {
        (r.asset_id, r.fp_seq): (r.decoded, r.band0, r.band1, r.band2, r.band3)
        for r in video_fingerprints(clips, 4).collect()
    }
    frames = sample_frames_y4m(clips, every_n=4)
    stills = frames.select(
        (F.col("asset_id") * 1000 + F.col("frame_idx")).alias("asset_id"),
        "payload",
    )
    bridge = {
        (r.asset_id // 1000, r.asset_id % 1000): (
            r.decoded, r.band0, r.band1, r.band2, r.band3,
        )
        for r in image_phash(stills).collect()
    }
    assert fused == bridge and len(fused) > 12

    # undecodable clips: one md5-fallback row, and byte-exact junk
    # pairs within a batch through the normal machinery
    junk = spark.createDataFrame(
        [(1, "video", b"not a clip"), (2, "video", b"not a clip")], SCHEMA
    )
    rows = media_fingerprints(junk).collect()
    assert len(rows) == 2
    assert all(not r.decoded and r.fp_seq == 0 for r in rows)
    assert rows[0].band0 == rows[1].band0


def test_fingerprint_schema_uniform_across_kinds(spark):
    batch = spark.createDataFrame(
        [(1, "image", _ppm(1)), (2, "audio", _tone(0x01)), (3, "video", _clip(2))],
        SCHEMA,
    )
    fps = media_fingerprints(batch)
    assert fps.columns == [
        "asset_id", "kind", "fp_seq", "decoded",
        "band0", "band1", "band2", "band3",
    ]
    rows = fps.collect()
    assert {r.kind for r in rows} == {"image", "audio", "video"}
    assert all(r.decoded for r in rows)
