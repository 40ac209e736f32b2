"""Audio tier of the multimodal layout: pure-Python WAV codec
round-trip, chunk-walk robustness, real signal statistics, the
quality gate, nearest resampling, and the honest compressed-format
gate. Oracle parity for q_audio_stats rides the all-queries gate.
"""

from __future__ import annotations

import struct

import pytest

from football_data_pipeline_spark.operators.audio import (
    CLIP_LEVEL,
    TONE_HALF_PERIOD,
    TONE_RATE,
    audio_quality_gate,
    audio_stats,
    decode_wav,
    encode_wav,
    resample_nearest,
    try_decode_wav,
)


def _square(amp: int, n: int) -> bytes:
    import numpy as np

    t = np.arange(n)
    return (
        np.where((t // TONE_HALF_PERIOD) % 2 == 0, amp, -amp)
        .astype("<i2")
        .tobytes()
    )


def test_wav_roundtrip_and_chunk_walk():
    pcm = _square(1000, 64)
    wav = encode_wav(16000, 1, pcm)
    assert decode_wav(wav) == (16000, 1, 16, pcm)
    # unknown chunk BEFORE fmt/data must be skipped (chunk walk),
    # including the word-alignment pad on odd-sized chunks
    junk = struct.pack("<4sI", b"LIST", 5) + b"abcde" + b"\x00"
    patched = wav[:12] + junk + wav[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_wav(patched) == (16000, 1, 16, pcm)
    # 8-bit and stereo round-trip too
    wav8 = encode_wav(8000, 2, bytes(range(200)), bits=8)
    assert decode_wav(wav8) == (8000, 2, 8, bytes(range(200)))


def test_junk_returns_none_not_exception():
    assert try_decode_wav(b"") is None
    assert try_decode_wav(b"RIFFxxxxWAVE") is None  # no chunks
    assert try_decode_wav(b"plain text payload" * 3) is None
    # float-PCM (codec 3) is unsupported -> None, not a wrong decode
    wav = bytearray(encode_wav(8000, 1, _square(5, 16)))
    wav[20] = 3  # codec field
    assert try_decode_wav(bytes(wav)) is None


def test_compressed_decode_is_honestly_gated():
    """No audio library ships in this build: a non-WAV payload reads
    as undecoded (the JPEG rule), never as a fake decode."""
    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 64
    assert try_decode_wav(mp3) is None


def test_audio_stats_known_signal(spark):
    """Square wave of amplitude A: RMS exactly A, ZCR exactly
    (n/HALF - 1)/(n - 1), no clipping below full scale; the all-zero
    signal is pure silence with zero crossings; junk rows survive as
    decoded=false."""
    n = 160
    rows = [
        (1, encode_wav(TONE_RATE, 1, _square(1000, n))),
        (2, encode_wav(TONE_RATE, 1, _square(CLIP_LEVEL, n))),
        (3, encode_wav(TONE_RATE, 1, b"\x00\x00" * n)),
        (4, b"not audio at all"),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r.asset_id: r for r in audio_stats(df).collect()}
    assert out[1].decoded and out[1].rms == pytest.approx(1000.0)
    expect_zcr = (n / TONE_HALF_PERIOD - 1) / (n - 1)
    assert out[1].zcr == pytest.approx(expect_zcr, abs=1e-6)
    assert out[1].clip_ratio == 0.0 and out[1].silence_ratio == 0.0
    assert out[1].duration_s == pytest.approx(n / TONE_RATE, abs=1e-6)
    assert out[2].clip_ratio == 1.0 and out[2].rms == pytest.approx(CLIP_LEVEL)
    assert out[3].silence_ratio == 1.0 and out[3].zcr == 0.0
    assert out[4].decoded is False and out[4].rms is None


def test_quality_gate_branches(spark):
    n = 160
    rows = [
        (1, encode_wav(TONE_RATE, 1, _square(1000, n * 4))),  # ok
        (2, encode_wav(TONE_RATE, 1, _square(CLIP_LEVEL, n * 4))),  # clipped
        (3, encode_wav(TONE_RATE, 1, b"\x00\x00" * (n * 4))),  # silent
        (4, encode_wav(TONE_RATE, 1, _square(1000, 16))),  # too_short
        (5, b"junk"),  # undecoded
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {
        r.asset_id: r.verdict
        for r in audio_quality_gate(audio_stats(df)).collect()
    }
    assert out == {1: "ok", 2: "clipped", 3: "silent", 4: "too_short", 5: "undecoded"}


def test_resample_nearest_halves_and_doubles():
    import numpy as np

    s = np.arange(100, dtype="float64")
    half = resample_nearest(8000, s, 4000)
    assert len(half) == 50 and half[0] == 0 and half[1] == 2
    dbl = resample_nearest(8000, s, 16000)
    assert len(dbl) == 200 and dbl[0] == 0 and dbl[1] == 0 and dbl[2] == 1
    # never reads past the end
    assert dbl[-1] == 99


def test_truncated_chunk_rejected():
    """ADVICE r7: a chunk whose declared size exceeds the remaining
    payload is a cut-off WAV — it must land in the decoded=false
    audit path, never yield stats over partial audio."""
    wav = encode_wav(16000, 1, _square(1000, 64))
    cut = wav[:-10]  # data chunk now 10 bytes short of its header
    with pytest.raises(ValueError, match="truncated chunk"):
        decode_wav(cut)
    assert try_decode_wav(cut) is None
    # intact payload still decodes after the guard
    assert decode_wav(wav)[3] == _square(1000, 64)


def test_thresholds_scale_with_bit_depth(spark):
    """ADVICE r7: clip/silence thresholds are fractions of full scale
    per bit depth — an 8-bit full-scale square wave must read as
    clipped (the int16-absolute constant could never fire), and the
    8-bit silence gate sits at full_scale*SILENCE_FRAC, not at an
    int16-scale 8."""
    import numpy as np

    from football_data_pipeline_spark.operators.audio import (
        _clip_level,
        _silence_level,
    )

    assert _clip_level(16) == 32767.0 and _clip_level(8) == 127.0
    assert _silence_level(16) == 8.0 and _silence_level(8) == 0.03125

    # 8-bit PCM is unsigned with midpoint 128: 255/1 swing = +/-127
    n = 64
    t = np.arange(n)
    clipped8 = np.where((t // TONE_HALF_PERIOD) % 2 == 0, 255, 1).astype("u1")
    silent8 = np.full(n, 128, dtype="u1")  # exactly midpoint
    assets = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(8000, 1, clipped8.tobytes(), bits=8))),
            (2, bytearray(encode_wav(8000, 1, silent8.tobytes(), bits=8))),
        ],
        "asset_id long, payload binary",
    )
    rows = {r.asset_id: r for r in audio_stats(assets).collect()}
    assert rows[1].clip_ratio == 1.0 and rows[1].silence_ratio == 0.0
    assert rows[2].silence_ratio == 1.0 and rows[2].clip_ratio == 0.0
    # 16-bit behavior is bit-identical to the pre-fix constants
    wav16 = encode_wav(16000, 1, _square(CLIP_LEVEL, 32))
    a16 = spark.createDataFrame(
        [(3, bytearray(wav16))], "asset_id long, payload binary"
    )
    r16 = audio_stats(a16).collect()[0]
    assert r16.clip_ratio == 1.0 and r16.silence_ratio == 0.0


def test_resample_empty_signal_returns_empty():
    """The 0-pixel rule's audio twin (r9): an empty signal must
    resample to an empty signal, not index samples[-1] of an empty
    array."""
    import numpy as np

    out = resample_nearest(8000, np.array([], dtype="float64"), 4000)
    assert len(out) == 0
