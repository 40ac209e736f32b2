"""Audio column plumbing — the AUDIO tier of the multimodal layout
(multimodal.py holds the image tier; same contract: payload =
opaque ``binary``, metadata = a typed struct, heavy per-row work =
Arrow-batched ``functions.memo.map_rows`` streaming per-partition
with no shuffle).

Decode support is tiered by what this environment can honestly do,
exactly like the image side:

- REAL codec for RIFF/WAVE PCM (8- and 16-bit integer, any channel
  count/rate): pure stdlib ``struct`` parsing of the chunk list
  (fmt/data discovered by walk, trailing chunks tolerated),
  ``encode_wav``/``decode_wav`` round-trip exactly. No native deps;
  the same kernel runs unchanged under ``mapInPandas`` at any scale.
- compressed formats (MP3/OGG/FLAC/AAC) require an audio library
  none of which ship in this build: ``try_decode_wav`` returns None
  on them and on any other unparseable payload, so such a row reads
  as undecoded (the JPEG rule) and one bad row can never kill a
  mapInPandas stage.
- ``audio_stats`` computes REAL signal statistics over decoded PCM
  (duration, RMS level, zero-crossing rate, clip ratio, silence
  ratio — the standard ingest-gate features); ``audio_quality_gate``
  classifies on them (too_short / clipped / silent / ok) the way the
  image quality gate does.

Driver oracle (``q_audio_stats``): each document synthesizes a
deterministic square-wave tone (amplitude and length are closed-form
functions of doc_id and text length), the Spark side runs the FULL
encode -> parse -> PCM -> measure loop in the Arrow kernel, and the
DuckDB oracle computes the same statistics analytically — a wrong
header layout, a byte-order slip, or a broken stat kernel all break
the value hash. RMS of a +/-A square wave is exactly A; sign changes
sit every half-period, so ZCR is (n/P_half - 1)/(n - 1) exactly.

100 TB shape: everything here is a narrow per-row kernel over the
payload column — no shuffle, no window, no join; cost is one scan of
the bytes (Arrow-batched, vectorized numpy inside), the same access
pattern as the image feature extractors. Partitioning follows the
asset table's layout untouched. 10x probe (sf0.1 docs replicated
10x, tools/scale_probe.py, medians of 3): 0.76 -> 3.22 s for 10x
documents AND 10x output rows — sub-linear per row, no pair stage.
"""

from __future__ import annotations

import struct
from ..functions.memo import map_rows, payload_memo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query

#: synthesized-tone geometry for the driver query (closed-form in
#: the oracle): sample rate, square-wave half-period in samples
TONE_RATE = 8000
TONE_HALF_PERIOD = 4
#: int16 full-scale max — the synth query's clipping amplitude AND
#: the 16-bit clip threshold (via _clip_level below)
CLIP_LEVEL = 32767
#: silence threshold as a FRACTION of full scale (ADVICE r7: the old
#: absolute SILENCE_LEVEL=8 was int16-scale, making the 8-bit gate
#: ~16x stricter relative to full scale); 8/32768 keeps the 16-bit
#: behavior bit-identical
SILENCE_FRAC = 8.0 / 32768.0


def _clip_level(bits: int) -> float:
    """|sample| at or above this counts as clipped — full-scale max
    for the given PCM bit depth (32767 for 16-bit, 127 for 8-bit;
    ADVICE r7: the absolute int16 constant could never fire on 8-bit
    audio, whose range after the -128 shift is +/-128)."""
    return float(2 ** (bits - 1) - 1)


def _silence_level(bits: int) -> float:
    """|sample| at or below this counts as silence — SILENCE_FRAC of
    the bit depth's full scale (8.0 for 16-bit, 0.03125 for 8-bit)."""
    return float(2 ** (bits - 1)) * SILENCE_FRAC


def encode_wav(rate: int, channels: int, samples: bytes, bits: int = 16) -> bytes:
    """Minimal RIFF/WAVE PCM container around raw little-endian
    samples (the fixture builder and the synth query's encoder)."""
    if bits not in (8, 16):
        raise ValueError("PCM bits must be 8 or 16")
    block = channels * bits // 8
    fmt = struct.pack(
        "<4sIHHIIHH",
        b"fmt ",
        16,
        1,  # PCM
        channels,
        rate,
        rate * block,
        block,
        bits,
    )
    data = struct.pack("<4sI", b"data", len(samples)) + samples
    body = b"WAVE" + fmt + data
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, int, int, bytes]:
    """Parse RIFF/WAVE PCM to (rate, channels, bits, sample bytes).
    Walks the chunk list (fmt/data in any order, unknown chunks
    skipped, word-aligned) — raises ValueError on anything that is
    not integer-PCM WAV."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        tag, size = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        if pos + size > len(payload):
            # a declared size past the end means a cut-off payload;
            # stats over partial audio would be silently wrong, so
            # reject into the decoded=false audit path (ADVICE r7;
            # decode_y4m's 'truncated frame planes' rule)
            raise ValueError("truncated chunk payload")
        chunk = payload[pos : pos + size]
        if tag == b"fmt " and len(chunk) >= 16:
            fmt = struct.unpack_from("<HHIIHH", chunk, 0)
        elif tag == b"data":
            data = chunk
        pos += size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    codec, channels, rate, _byte_rate, _block, bits = fmt
    if codec != 1 or bits not in (8, 16) or channels < 1 or rate < 1:
        raise ValueError(f"unsupported WAV (codec={codec}, bits={bits})")
    return rate, channels, bits, data


def try_decode_wav(payload: bytes) -> tuple[int, int, int, bytes] | None:
    """None instead of an exception on junk — the mapInPandas
    bad-row rule (multimodal.try_decode_pixels)."""
    try:
        return decode_wav(bytes(payload))
    except (ValueError, struct.error):
        return None


AUDIO_STATS_SCHEMA = (
    "asset_id long, decoded boolean, rate int, channels int, "
    "n_samples long, duration_s double, rms double, zcr double, "
    "clip_ratio double, silence_ratio double"
)


def _pcm_array(bits: int, data: bytes):
    import numpy as np

    if bits == 16:
        return np.frombuffer(data[: len(data) - (len(data) % 2)], dtype="<i2").astype(
            "float64"
        )
    return np.frombuffer(data, dtype="u1").astype("float64") - 128.0


def _stat_round(x: float) -> float:
    import math

    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


@payload_memo(maxsize=256)
def _audio_stats_row(payload: bytes) -> tuple:
    """(decoded, rate, ..., silence_ratio) for one payload — pure
    function of the bytes, memoized per worker (r13, guide §4.5):
    byte-exact duplicate payloads skip the WAV decode + signal
    statistics. Keyed on the payload itself, never a digest."""
    import numpy as np

    got = try_decode_wav(payload)
    if got is None:
        return (False,) + (None,) * 8
    rate, channels, bits, data = got
    s = _pcm_array(bits, data)
    n = len(s) // channels
    if n == 0:
        return (False,) + (None,) * 8
    mono = s.reshape(n, channels).mean(axis=1) if channels > 1 else s
    rms = float(np.sqrt(np.mean(mono * mono)))
    sign = np.sign(mono)
    crossings = int(np.sum(sign[1:] * sign[:-1] < 0))
    zcr = crossings / (n - 1) if n > 1 else 0.0
    clip = float(np.mean(np.abs(mono) >= _clip_level(bits)))
    silence = float(np.mean(np.abs(mono) <= _silence_level(bits)))
    return (
        True,
        rate,
        channels,
        n,
        _stat_round(n / rate),
        _stat_round(rms),
        _stat_round(zcr),
        _stat_round(clip),
        _stat_round(silence),
    )


def audio_stats(assets: DataFrame) -> DataFrame:
    """(asset_id, decoded, rate, channels, n_samples, duration_s,
    rms, zcr, clip_ratio, silence_ratio): real signal statistics per
    payload via the pure-Python WAV codec inside one ``map_rows`` pass —
    vectorized numpy per batch, undecodable rows kept with
    decoded=false and NULL stats (audited, never dropped)."""
    payloads = assets.select("asset_id", "payload")
    return map_rows(payloads, _audio_stats_row, AUDIO_STATS_SCHEMA)


def audio_quality_gate(
    stats: DataFrame,
    min_duration_s: float = 0.05,
    max_clip_ratio: float = 0.05,
    max_silence_ratio: float = 0.9,
) -> DataFrame:
    """Classify decoded stats the way the image gate does: first
    failing rule names the verdict (undecodable → 'undecoded',
    then too_short / clipped / silent / ok) — pure built-ins, no
    second decode pass."""
    return stats.withColumn(
        "verdict",
        F.when(~F.col("decoded"), "undecoded")
        .when(F.col("duration_s") < min_duration_s, "too_short")
        .when(F.col("clip_ratio") > max_clip_ratio, "clipped")
        .when(F.col("silence_ratio") > max_silence_ratio, "silent")
        .otherwise("ok"),
    )


def resample_nearest(rate_in: int, samples, rate_out: int):
    """Nearest-neighbor PCM resample (the audio twin of the image
    resize kernel): output sample j takes input floor(j*rate_in/
    rate_out) — real resampling for gate/thumbnail purposes. An
    empty signal resamples to an empty signal (the min-1-output
    clamp once indexed samples[-1] of an empty array; r9 fix, the
    0-pixel rule's audio twin)."""
    import numpy as np

    if len(samples) == 0:
        return samples[:0]
    n_out = max(1, int(round(len(samples) * rate_out / rate_in)))
    idx = np.minimum(
        (np.arange(n_out) * rate_in // rate_out).astype("int64"),
        len(samples) - 1,
    )
    return samples[idx]


def synth_tone_assets(docs: DataFrame) -> DataFrame:
    """Wrap text docs as synthetic WAV assets: a +/-A square wave
    whose amplitude and length are CLOSED-FORM in (doc_id, text
    length) — see the module docstring; the oracle recomputes the
    stats analytically. Every 7th doc clips at full scale on
    purpose so the gate's 'clipped' branch has driver coverage."""
    seeds = docs.select(F.col("doc_id").alias("asset_id"), "doc_id", "text")
    return map_rows(seeds, _tone_row, "asset_id long, payload binary")


def _tone_row(doc_id: int, text: str | None) -> tuple:
    """(payload,): the synth_tone_assets WAV of one document."""
    import numpy as np

    amp = CLIP_LEVEL if doc_id % 7 == 0 else 500 + (doc_id % 29) * 250
    n = 160 + (len(text or "") % 200) * 8
    t = np.arange(n)
    s = np.where((t // TONE_HALF_PERIOD) % 2 == 0, amp, -amp).astype("<i2")
    return (encode_wav(TONE_RATE, 1, s.tobytes()),)


def _audio_stats_oracle() -> str:
    # the analytic mirror: amp/n are the synth's closed forms; RMS of
    # a +/-A square wave is exactly A; sign changes sit at every
    # half-period boundary -> (n/HALF - 1) crossings over n-1 gaps
    return f"""
    WITH g AS (
      SELECT doc_id AS asset_id,
             CASE WHEN doc_id % 7 = 0 THEN {CLIP_LEVEL}
                  ELSE 500 + (doc_id % 29) * 250 END AS amp,
             160 + (coalesce(length(text), 0) % 200) * 8 AS n
      FROM documents
    )
    SELECT asset_id,
           true AS decoded,
           {TONE_RATE} AS rate,
           1 AS channels,
           CAST(n AS BIGINT) AS n_samples,
           floor(n * 1.0 / {TONE_RATE} * 1000000 + 0.5) / 1000000
             AS duration_s,
           floor(amp * 1000000 + 0.5) / 1000000 AS rms,
           floor((n / {TONE_HALF_PERIOD} - 1) * 1.0 / (n - 1)
                 * 1000000 + 0.5) / 1000000 AS zcr,
           CASE WHEN amp >= {CLIP_LEVEL} THEN 1.0 ELSE 0.0 END
             AS clip_ratio,
           0.0 AS silence_ratio
    FROM g
    """


@query("q_audio_stats", oracle=_audio_stats_oracle())
def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio ingest stats end-to-end: synthesize the deterministic
    tone per document, then run the REAL encode -> RIFF parse -> PCM
    -> vectorized-stats loop in the Arrow kernel; the oracle derives
    every statistic analytically from (doc_id, strlen) — module
    docstring has the closed forms."""
    docs = load(spark, sf_dir, "documents")
    return audio_stats(synth_tone_assets(docs))
