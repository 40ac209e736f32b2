"""Video tier of the multimodal layout: pure-Python YUV4MPEG2 codec
round-trip, header robustness, real per-frame statistics, the
frame-sampling bridge into the image tier, and the honest
compressed-format gate. Oracle parity for q_video_stats rides the
all-queries gate.
"""

from __future__ import annotations

import pytest

from football_data_pipeline_spark.operators.video import (
    CLIP_FPS,
    CLIP_H,
    CLIP_W,
    SCENE_DELTA,
    decode_y4m,
    encode_y4m,
    sample_frames_y4m,
    try_decode_y4m,
    video_stats,
)

W, H = 16, 16


def _frames(lumas):
    return [bytes([l]) * (W * H) for l in lumas]


def test_y4m_roundtrip_and_header_variants():
    clip = encode_y4m(W, H, 25, _frames([10, 200, 90]))
    w, h, fn, fd, cs, frames = decode_y4m(clip)
    assert (w, h, fn, fd, cs) == (W, H, 25, 1, "C420")
    assert [f[0] for f in frames] == [10, 200, 90]
    assert all(len(f) == W * H for f in frames)
    # C444 chroma geometry round-trips too
    clip444 = encode_y4m(W, H, 30, _frames([7]), colorspace="C444")
    assert decode_y4m(clip444)[4] == "C444"
    # header params in any order, unknown params tolerated
    reordered = b"YUV4MPEG2 C420 F25:1 H16 W16 Xfoo\n" + clip.split(b"\n", 1)[1]
    assert decode_y4m(reordered)[:2] == (16, 16)


def test_junk_and_truncation_return_none():
    assert try_decode_y4m(b"") is None
    assert try_decode_y4m(b"not video") is None
    clip = encode_y4m(W, H, 25, _frames([10, 20]))
    assert try_decode_y4m(clip[:-5]) is None  # truncated planes
    assert try_decode_y4m(clip.replace(b"FRAME", b"FLAME", 1)) is None


def test_compressed_decode_is_honestly_gated():
    """No video decoder ships in this build: an MP4 payload reads as
    undecoded, never as a fake decode."""
    mp4 = b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 64
    assert try_decode_y4m(mp4) is None


def test_video_stats_known_signal(spark):
    """Constant-luma frames make every statistic exact: mean luma is
    the frame-mean of the luma list, scene changes count jumps of
    >= SCENE_DELTA between consecutive frames."""
    lumas = [10, 10 + SCENE_DELTA, 10 + SCENE_DELTA + 5, 200]  # 2 jumps
    rows = [
        (1, encode_y4m(W, H, 25, _frames(lumas))),
        (2, encode_y4m(W, H, 50, _frames([128]))),
        (3, b"garbage payload"),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r.asset_id: r for r in video_stats(df).collect()}
    assert out[1].decoded and out[1].n_frames == 4
    assert out[1].mean_luma == pytest.approx(sum(lumas) / 4, abs=1e-6)
    assert out[1].scene_changes == 2
    assert out[1].duration_s == pytest.approx(4 / 25, abs=1e-6)
    assert out[2].fps == 50.0 and out[2].scene_changes == 0
    assert out[3].decoded is False and out[3].mean_luma is None


def test_frame_sampling_bridges_into_image_tier(spark):
    """Every-Nth frame re-encodes as a PPM still that the IMAGE
    tier's real decoder reads back pixel-exactly."""
    from football_data_pipeline_spark.operators.multimodal import decode_pixels

    lumas = list(range(0, 90, 10))  # 9 frames
    df = spark.createDataFrame(
        [(1, encode_y4m(W, H, 25, _frames(lumas)))],
        "asset_id long, payload binary",
    )
    got = sorted(
        (r.frame_idx, r) for r in sample_frames_y4m(df, every_n=4).collect()
    )
    assert [i for i, _ in got] == [0, 4, 8]
    for idx, r in got:
        w, h, rgb = decode_pixels(bytes(r.payload))
        assert (w, h) == (W, H)
        assert rgb[0] == rgb[1] == rgb[2] == lumas[idx]  # gray -> RGB
    with pytest.raises(ValueError, match="every_n"):
        sample_frames_y4m(df, every_n=0)


def test_synth_clip_matches_closed_forms(spark):
    """The synth geometry the analytic oracle relies on: frame count
    4 + doc_id % 13, frame k's luma (doc_id*31 + k*17) % 256."""
    from football_data_pipeline_spark.operators.video import synth_clip_assets

    docs = spark.createDataFrame([(5, "x"), (20, "y")], "doc_id long, text string")
    for r in synth_clip_assets(docs).collect():
        w, h, fn, fd, _cs, frames = decode_y4m(bytes(r.payload))
        assert (w, h, fn, fd) == (CLIP_W, CLIP_H, CLIP_FPS, 1)
        assert len(frames) == 4 + r.asset_id % 13
        for k, f in enumerate(frames):
            assert f[0] == (r.asset_id * 31 + k * 17) % 256


def test_frame_header_scan_is_bounded():
    """ADVICE r7: a FRAME header missing its terminating newline must
    raise instead of the newline search landing inside binary plane
    data and silently misaligning every subsequent frame."""
    clip = encode_y4m(W, H, 25, _frames([10, 20]))
    # corrupt frame 0's header terminator: FRAME\n -> FRAMEX
    pos = clip.index(b"FRAME\n")
    bad = clip[: pos + 5] + b"X" + clip[pos + 6 :]
    with pytest.raises(ValueError, match="malformed FRAME header"):
        decode_y4m(bad)
    # a frame PARAMETER list (FRAME Ixyz\n) still decodes
    param = clip[: pos + 5] + b" Ixyz" + clip[pos + 5 :]
    assert [f[0] for f in decode_y4m(param)[5]] == [10, 20]
    # header whose newline never arrives within the bounded window
    headless = clip[: pos + 5] + b" " + b"x" * 300 + clip[pos + 6 :]
    with pytest.raises(ValueError, match="unterminated FRAME header"):
        decode_y4m(headless)


def test_pattern_plane_plants_exact_dhash():
    """The dedup bridge's invariant: _pattern_plane survives the
    REAL sample→PPM→decode→dHash path bit-for-bit, so the planted
    hash IS the perceptual hash the image tier computes."""
    import numpy as np

    from football_data_pipeline_spark.operators.multimodal import (
        decode_pixels,
        dhash64,
        encode_ppm,
    )
    from football_data_pipeline_spark.operators.video import (
        _frame_hash_rows,
        _pattern_plane,
    )

    for doc_id, k in [(0, 0), (7, 4), (123, 8), (4999, 12), (11, 0)]:
        rows = _frame_hash_rows(doc_id, k)
        want = 0
        for b in rows:
            want = (want << 8) | b
        plane = _pattern_plane(rows)
        rgb = np.repeat(np.frombuffer(plane, dtype="u1"), 3).tobytes()
        w, h, back = decode_pixels(encode_ppm(CLIP_W, CLIP_H, rgb))
        assert (w, h) == (CLIP_W, CLIP_H) and back == rgb
        assert dhash64(w, h, back) == want


def test_frame_hash_rows_group_geometry():
    """The closed-form guarantees the oracle leans on: within-group
    base↔perturbed distance is exactly 2; cross-group distance is
    always > DHASH_MAX_HAMMING (so no cross-group near pair can ever
    appear)."""
    from football_data_pipeline_spark.operators.multimodal import DHASH_MAX_HAMMING
    from football_data_pipeline_spark.operators.video import (
        PATTERN_GROUPS,
        _frame_hash_rows,
    )

    def h64(rows):
        v = 0
        for b in rows:
            v = (v << 8) | b
        return v

    # one base and one perturbed representative per group
    base, pert = {}, {}
    for d in range(200):
        for k in (0, 4, 8, 12):
            m = (d * 3 + k) % PATTERN_GROUPS
            tgt = pert if (d + k) % 5 == 0 else base
            h = h64(_frame_hash_rows(d, k))
            assert tgt.setdefault(m, h) == h  # class ⇒ one hash
    assert set(base) == set(pert) == set(range(PATTERN_GROUPS))
    for m in base:
        assert bin(base[m] ^ pert[m]).count("1") == 2
    reps = list(base.items()) + list(pert.items())
    for i, (mi, hi) in enumerate(reps):
        for mj, hj in reps[i + 1 :]:
            if mi != mj:
                assert bin(hi ^ hj).count("1") > DHASH_MAX_HAMMING


def test_video_quality_gate_branches(spark):
    """First-failing-rule verdicts over real decoded stats: junk →
    undecoded, 1-frame clip → too_short, long zero-scene-change
    clip → static, varied clip → ok."""
    from football_data_pipeline_spark.operators.video import video_quality_gate

    ok_lumas = [0, 100, 0, 100, 0, 100, 0, 100]  # scene change every frame
    static_lumas = [50] * 10  # >= static_min_frames, zero changes
    rows = [
        (1, b"junk"),
        (2, encode_y4m(W, H, 25, _frames([10]))),  # 0.04 s < 0.05
        (3, encode_y4m(W, H, 25, _frames(static_lumas))),
        (4, encode_y4m(W, H, 25, _frames(ok_lumas))),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {
        r.asset_id: r.verdict
        for r in video_quality_gate(video_stats(df)).collect()
    }
    assert got == {1: "undecoded", 2: "too_short", 3: "static", 4: "ok"}
