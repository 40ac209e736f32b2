"""Audio perceptual near-duplicate fingerprinting — the AUDIO tier's
missing dedup member, completing the triad (image: dHash in
multimodal.py; video: frames bridge into the image pass; audio:
this). Reference parity: none — LLM-data-pipeline extension
(SURVEY.md §2 scale extensions).

The fingerprint is the time-domain variant of the energy-DIFFERENCE
bit fingerprint (Haitsma & Kalker 2002, "A Highly Robust Audio
Fingerprinting System": sign of band-energy differences; here the
banding is temporal instead of spectral — no FFT dependency in this
build): downmix to mono, split into ``ENV_WINDOWS`` equal windows,
take each window's mean |amplitude| (the energy envelope), and emit
one bit per neighboring-window pair (env[i] < env[i+1], strict).
ENV_WINDOWS-1 = 64 bits — deliberately the same width and band
split as the image dHash, so the ENTIRE pair pipeline
(star-collapse of identical fingerprints, (band_idx, band_value)
bucket blocking with the pigeonhole recall guarantee, exact Hamming
verify) is multimodal.hash_near_dup, shared code, not a copy.
Envelope-shape bits are robust to gain changes that preserve
ordering, re-encoding, and small clipped edits — the cheap audio
twin of dHash's gradient bits.

Driver oracle (``q_audio_near_dup``): the same planted-fingerprint
design as the video bridge (video.synth_patterned_clips) — each doc
synthesizes a tone whose ENVELOPE encodes a chosen 64-bit pattern
(+100 amplitude step for a 1-bit, flat for a 0-bit; window-aligned
constant blocks make every window mean EXACT in float64), grouped
so within-group base↔perturbed distance is exactly 2 and
cross-group distance always > DHASH_MAX_HAMMING. DuckDB enumerates
the exact expected pair set from doc_id arithmetic; a bug anywhere
in the WAV codec, channel downmix, window math, envelope bits,
banding, star collapse, or Hamming verify changes the pair set and
breaks the value hash.

100 TB shape: the fingerprint is one narrow ``map_rows`` pass over
the payload column (numpy per batch, no shuffle); everything
pair-shaped is hash_near_dup's banded equi-joins over
representatives — never all-pairs, identical scaling argument to
the image pass (multimodal.py docstring). 10x probe (sf0.1 docs
replicated 10x, tools/scale_probe.py, medians of 3): 1.34 -> 3.87 s
for 10x assets AND 10x output pairs — sub-linear per row, fixed
plan cost dominating at 1x; star pairs grow with the corpus while
rep-level candidates stay bounded by the class count.
"""

from __future__ import annotations

from functools import lru_cache

from ..functions.memo import map_rows, payload_memo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query
from .audio import _pcm_array, encode_wav, try_decode_wav
from .multimodal import DHASH_BANDS, DHASH_BITS_PER_BAND, PHASH_SCHEMA, hash_near_dup

#: envelope windows; ENV_WINDOWS-1 = 64 difference bits = the image
#: dHash width, so the banded pair machinery is shared verbatim
ENV_WINDOWS = 65

#: synth geometry for the driver query (closed-form in the oracle):
#: groups the planted fingerprints spread over, window size in
#: samples, sample rate, base/step amplitudes
ENV_GROUPS = 24
SYNTH_WIN = 25
SYNTH_RATE = 8000
SYNTH_BASE_AMP = 1000
SYNTH_STEP = 100


def envelope_fingerprint64(mono) -> int | None:
    """64 envelope-difference bits from a mono float array (first
    computed bit = MSB, the dhash64 convention). None when the
    signal is shorter than ENV_WINDOWS samples — too short to carry
    an envelope shape; callers route that to the md5 fallback."""
    import numpy as np

    w = len(mono) // ENV_WINDOWS
    if w == 0:
        return None
    env = np.abs(mono[: ENV_WINDOWS * w]).reshape(ENV_WINDOWS, w).mean(axis=1)
    bits = env[:-1] < env[1:]
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h


@payload_memo(maxsize=512)
def _afp_row(payload: bytes) -> tuple:
    """(decoded, band0..band{n-1}) for one payload — pure function
    of the bytes, memoized per worker (r13, guide §4.5): byte-exact
    duplicate payloads skip the WAV decode + envelope walk. Keyed on
    the payload itself, never a digest, so a hash collision can
    never alias two distinct payloads."""
    import hashlib

    got = try_decode_wav(payload)
    h = None
    if got is not None:
        rate, channels, bits, data = got
        s = _pcm_array(bits, data)
        n = len(s) // channels
        if n:
            mono = (
                s[: n * channels].reshape(n, channels).mean(axis=1)
                if channels > 1
                else s
            )
            h = envelope_fingerprint64(mono)
    if h is None:
        h = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
        ok = False
    else:
        ok = True
    return (
        ok,
        *((h >> (DHASH_BITS_PER_BAND * i)) & 0xFFFF for i in range(DHASH_BANDS)),
    )


def audio_fingerprint(assets: DataFrame) -> DataFrame:
    """``map_rows`` fingerprint extraction, the audio twin of
    multimodal.image_phash and schema-compatible with it: decodable
    payloads get their envelope fingerprint split into DHASH_BANDS
    16-bit bands; undecodable or sub-ENV_WINDOWS payloads fall back
    to md5-derived bands (byte-exact duplicates still collide;
    decoded=false marks the weaker semantics)."""
    payloads = assets.select("asset_id", "payload")
    return map_rows(payloads, _afp_row, PHASH_SCHEMA)


def audio_near_dup(assets: DataFrame, max_hamming: int | None = None) -> DataFrame:
    """Perceptual near-duplicate pairs over audio payloads:
    envelope fingerprints through the SHARED banded pair pass
    (multimodal.hash_near_dup — star collapse, band blocking, exact
    Hamming verify). Output (id_a, id_b, hamming)."""
    fps = audio_fingerprint(assets)
    if max_hamming is None:
        return hash_near_dup(fps)
    return hash_near_dup(fps, max_hamming)


def _tone_hash_rows(doc_id: int) -> list[int]:
    """The planted 64-bit fingerprint of doc doc_id as 8 row bytes —
    the closed form the oracle mirrors (the audio twin of
    video._frame_hash_rows, one asset per doc so no frame index):

    - group m = doc_id % ENV_GROUPS; base row pattern
      p(m) = (m*37) % 256 (distinct per group), all 8 rows;
    - docs with doc_id % 5 == 0 are PERTURBED: rows 6 and 7 flip bit
      (m % 8) → Hamming distance EXACTLY 2 from the base, while any
      two groups differ in rows 0–5 alone by 6·popcount ≥ 6 > 3."""
    m = doc_id % ENV_GROUPS
    p = (m * 37) % 256
    rows = [p] * 8
    if doc_id % 5 == 0:
        flip = 1 << (m % 8)
        rows[6] ^= flip
        rows[7] ^= flip
    return rows


@lru_cache(maxsize=256)
def _tone_payload(rows: tuple[int, ...]) -> bytes:
    """The full WAV payload for one planted fingerprint. A doc's
    payload depends on doc_id ONLY through _tone_hash_rows (at most
    2·ENV_GROUPS distinct patterns), so the sample synthesis +
    struct pack + WAV framing is pure recomputation per doc — cache
    per worker (bytes are immutable; rows sharing a payload is
    safe)."""
    import struct as _struct

    bits = []
    for b in rows:
        bits += [(b >> (7 - i)) & 1 for i in range(8)]
    amp = SYNTH_BASE_AMP
    samples = []
    for j in range(ENV_WINDOWS):
        if j:
            amp += SYNTH_STEP * bits[j - 1]
        samples += [amp] * SYNTH_WIN
    return encode_wav(
        SYNTH_RATE, 1, _struct.pack(f"<{len(samples)}h", *samples)
    )


def synth_patterned_tones(docs: DataFrame) -> DataFrame:
    """Wrap text docs as WAV assets whose ENVELOPE encodes the
    planted fingerprint: 65 window-aligned constant-amplitude blocks
    (SYNTH_WIN samples each), stepping +SYNTH_STEP where the next
    bit is 1 and flat where 0 — each window's mean |amplitude| is
    exact in float64, so the planted bits survive the REAL
    encode→decode→downmix→envelope path bit-for-bit."""
    seeds = docs.select(F.col("doc_id").alias("asset_id"), "doc_id")
    return map_rows(seeds, _patterned_tone_row, "asset_id long, payload binary")


def _patterned_tone_row(doc_id: int) -> tuple:
    """(payload,): the synth_patterned_tones WAV of one document."""
    return (_tone_payload(tuple(_tone_hash_rows(doc_id))),)


def _audio_near_dup_oracle() -> str:
    # mirrors _tone_hash_rows' closed form AND hash_near_dup's output
    # contract (the video bridge's oracle without the frame axis)
    return f"""
    WITH labeled AS (
      SELECT CAST(doc_id AS BIGINT) AS fid,
             doc_id % {ENV_GROUPS} AS m,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS pert
      FROM documents
    ),
    classes AS (
      SELECT m, pert, min(fid) AS rep FROM labeled GROUP BY m, pert
    ),
    stars AS (
      SELECT c.rep AS id_a, l.fid AS id_b, CAST(0 AS INTEGER) AS hamming
      FROM labeled l JOIN classes c ON l.m = c.m AND l.pert = c.pert
      WHERE l.fid <> c.rep
    ),
    near AS (
      SELECT least(a.rep, b.rep) AS id_a,
             greatest(a.rep, b.rep) AS id_b,
             CAST(2 AS INTEGER) AS hamming
      FROM classes a
      JOIN classes b ON a.m = b.m AND a.pert = 0 AND b.pert = 1
    )
    SELECT id_a, id_b, hamming FROM stars
    UNION ALL
    SELECT id_a, id_b, hamming FROM near
    """


@query("q_audio_near_dup", oracle=_audio_near_dup_oracle())
def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio perceptual dedup end-to-end: synthesize WAV tones with
    planted envelope fingerprints, run the REAL decode → downmix →
    envelope → difference-bit kernel, then the SHARED banded
    near-dup pass. The oracle enumerates the exact expected pair set
    from doc_id arithmetic (module docstring)."""
    docs = load(spark, sf_dir, "documents")
    return audio_near_dup(synth_patterned_tones(docs))
