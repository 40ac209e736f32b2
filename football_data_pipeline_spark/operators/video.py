"""Video column plumbing — the VIDEO tier of the multimodal layout
(images: multimodal.py, audio: audio.py; same contract: payload =
opaque ``binary``, metadata = a typed struct, per-row decode work =
Arrow-batched ``functions.memo.map_rows``, no shuffle).

Decode support is tiered by what this environment can honestly do:

- REAL codec for YUV4MPEG2 (.y4m) — the standard UNCOMPRESSED video
  interchange container (plain-text stream header + ``FRAME`` +
  raw planes): pure stdlib parsing, C420/C420jpeg/C420mpeg2/C444
  colorspaces, per-frame Y/U/V plane extraction. No native deps;
  the same kernel runs unchanged under ``mapInPandas`` at any
  scale.
- compressed video (MP4/H.264/VP9/...) requires a decoder none of
  which ship in this build: ``try_decode_y4m`` returns None on them
  and on any other junk, so such a row reads as undecoded (the
  JPEG/MP3 rule; pinned in MIGRATION.md) and one bad row never kills
  a mapInPandas stage.
- REAL per-frame work over decoded planes: ``video_stats`` (frame
  count, geometry, fps, duration, mean luma, scene-change count via
  mean-luma jumps), ``sample_frames_y4m`` (every-Nth frame-sample,
  re-encoded as PPM stills through the IMAGE tier's encoder —
  multimodal.encode_ppm — so sampled frames flow straight into the
  image dedup/quality operators), and a trivial temporal-dedup
  signal (consecutive-frame luma delta).

Driver oracle (``q_video_stats``): each document synthesizes a
deterministic Y4M clip — 16x16, 25 fps, ``4 + doc_id % 13`` frames,
frame k's luma constant at ``(doc_id*31 + k*17) % 256`` with neutral
chroma — and the Spark side runs the FULL encode -> parse -> plane
-> measure loop while DuckDB recomputes every statistic analytically
from doc_id alone (list_transform over the frame index). A header
tokenization, plane-size, or stat-kernel bug breaks the value hash.

100 TB shape: identical to the audio tier — a narrow per-row kernel
over the payload column, one scan, no shuffle/window/join; frame
sampling multiplies output rows by 1/every_n of the frame count,
never input cost. 10x probe (sf0.1 docs replicated 10x,
tools/scale_probe.py, medians of 3): 0.95 -> 5.10 s for 10x
documents AND 10x output rows — sub-linear per row, no pair stage.
"""

from __future__ import annotations

from functools import lru_cache

from ..functions.memo import map_rows, payload_memo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query

#: synthesized-clip geometry for the driver query (closed-form in
#: the oracle)
CLIP_W, CLIP_H = 16, 16
CLIP_FPS = 25
#: mean-luma jump at or above this counts as a scene change
SCENE_DELTA = 32


def encode_y4m(
    width: int,
    height: int,
    fps: int,
    frames_y: list[bytes],
    colorspace: str = "C420",
) -> bytes:
    """Minimal YUV4MPEG2 writer: each frame is a full Y plane;
    chroma planes are filled neutral (128) — the fixture builder and
    the synth query's encoder."""
    if colorspace not in ("C420", "C420jpeg", "C420mpeg2", "C444"):
        raise ValueError(f"unsupported colorspace {colorspace}")
    head = f"YUV4MPEG2 W{width} H{height} F{fps}:1 Ip A1:1 {colorspace}\n".encode()
    if colorspace == "C444":
        c_size = width * height
    else:
        c_size = (width // 2) * (height // 2)
    chroma = bytes([128]) * c_size
    out = [head]
    for y in frames_y:
        if len(y) != width * height:
            raise ValueError("Y plane size mismatch")
        out.append(b"FRAME\n")
        out.append(y)
        out.append(chroma)
        out.append(chroma)
    return b"".join(out)


def decode_y4m(
    payload: bytes,
) -> tuple[int, int, int, int, str, list[bytes]]:
    """Parse YUV4MPEG2 to (width, height, fps_num, fps_den,
    colorspace, [Y planes]). Chroma planes are validated for size and
    skipped (luma carries the stats the gates use). Raises ValueError
    on anything that is not well-formed Y4M."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("unterminated stream header")
    w = h = None
    fn, fd, cs = 25, 1, "C420"
    for tok in payload[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            a, b = val.split(b":")
            fn, fd = int(a), int(b)
        elif tag == b"C":
            cs = tok.decode()
    if not w or not h or w < 1 or h < 1 or fn < 1 or fd < 1:
        raise ValueError("missing/invalid W/H/F header params")
    if cs not in ("C420", "C420jpeg", "C420mpeg2", "C444"):
        raise ValueError(f"unsupported colorspace {cs}")
    y_size = w * h
    c_size = y_size if cs == "C444" else (w // 2) * (h // 2)
    frame_size = y_size + 2 * c_size
    pos, frames = nl + 1, []
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("malformed FRAME marker")
        # the byte after FRAME must open a (possibly empty) parameter
        # list; bound the terminator scan to a small window so a
        # header missing its newline raises instead of the search
        # landing inside binary plane data and silently misaligning
        # every subsequent frame (ADVICE r7)
        if payload[pos + 5 : pos + 6] not in (b"\n", b" "):
            raise ValueError("malformed FRAME header")
        fnl = payload.find(b"\n", pos + 5, pos + 5 + 256)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        pos = fnl + 1
        if pos + frame_size > len(payload):
            raise ValueError("truncated frame planes")
        frames.append(payload[pos : pos + y_size])
        pos += frame_size
    return w, h, fn, fd, cs, frames


def try_decode_y4m(payload: bytes):
    """None instead of an exception on junk — the mapInPandas
    bad-row rule (multimodal.try_decode_pixels)."""
    try:
        return decode_y4m(bytes(payload))
    except (ValueError, IndexError):
        return None


VIDEO_STATS_SCHEMA = (
    "asset_id long, decoded boolean, width int, height int, "
    "n_frames long, fps double, duration_s double, mean_luma double, "
    "scene_changes long"
)


def _stat_round(x: float) -> float:
    import math

    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


@payload_memo(maxsize=256)
def _video_stats_row(payload: bytes) -> tuple:
    """(decoded, width, ..., scene_changes) for one clip payload —
    pure function of the bytes, memoized per worker (r13, guide
    §4.5): byte-exact duplicate clips skip the decode + per-frame
    luma statistics. Keyed on the payload itself, never a digest."""
    import numpy as np

    got = try_decode_y4m(payload)
    if got is None or not got[5]:
        return (False,) + (None,) * 7
    w, h, fn, fd, _cs, frames = got
    means = np.array(
        [np.frombuffer(y, dtype="u1").astype("float64").mean() for y in frames]
    )
    n = len(frames)
    fps = fn / fd
    return (
        True,
        w,
        h,
        n,
        _stat_round(fps),
        _stat_round(n / fps),
        _stat_round(float(means.mean())),
        int(np.sum(np.abs(np.diff(means)) >= SCENE_DELTA)),
    )


def video_stats(assets: DataFrame) -> DataFrame:
    """(asset_id, decoded, width, height, n_frames, fps, duration_s,
    mean_luma, scene_changes): real per-frame statistics from decoded
    Y planes in one ``map_rows`` pass — scene changes counted as
    consecutive-frame mean-luma jumps >= SCENE_DELTA (the cheap
    temporal-dedup / shot-boundary signal). Undecodable rows kept
    with decoded=false and NULL stats."""
    payloads = assets.select("asset_id", "payload")
    return map_rows(payloads, _video_stats_row, VIDEO_STATS_SCHEMA)


FRAME_SCHEMA = (
    "asset_id long, frame_idx long, payload binary, width int, height int"
)


def sample_frames_y4m(assets: DataFrame, every_n: int = 4) -> DataFrame:
    """Every-Nth decoded frame, re-encoded as a PPM still through the
    IMAGE tier's encoder (multimodal.encode_ppm, gray -> RGB) — the
    bridge that lets sampled frames flow into the image dedup /
    quality / dHash operators unchanged. Output rows scale with
    n_frames/every_n, never with payload size (many-row ``map_rows``)."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    payloads = assets.select("asset_id", "payload")
    return map_rows(payloads, _sampled_frames, FRAME_SCHEMA, every_n, many=True)


@payload_memo(maxsize=128)
def _sampled_frames(payload: bytes, every_n: int) -> tuple:
    """((frame_idx, ppm_payload, w, h), ...) for one clip payload —
    pure function of (bytes, stride), memoized per worker (r13,
    guide §4.5): byte-exact duplicate clips skip the decode and the
    PPM re-encode of every sampled frame. Undecodable payloads
    yield no rows (audited by video_stats). Keyed on the payload
    itself, never a digest."""
    import numpy as np

    from .multimodal import encode_ppm

    got = try_decode_y4m(payload)
    if got is None:
        return ()
    w, h, _fn, _fd, _cs, frames = got
    rows = []
    for idx in range(0, len(frames), every_n):
        # gray -> RGB: vectorized byte-triple (ADVICE r7 replaced a
        # pure-Python per-pixel generator)
        rgb = np.repeat(np.frombuffer(frames[idx], dtype="u1"), 3).tobytes()
        rows.append((idx, encode_ppm(w, h, rgb), w, h))
    return tuple(rows)


def synth_clip_assets(docs: DataFrame) -> DataFrame:
    """Wrap text docs as synthetic Y4M assets: 16x16 at 25 fps,
    ``4 + doc_id % 13`` frames, frame k's luma constant at
    ``(doc_id*31 + k*17) % 256`` with neutral chroma — every
    statistic is CLOSED-FORM in doc_id (module docstring), which is
    what makes the analytic oracle possible."""
    seeds = docs.select(F.col("doc_id").alias("asset_id"), "doc_id")
    return map_rows(seeds, _clip_row, "asset_id long, payload binary")


def _clip_row(doc_id: int) -> tuple:
    """(payload,): the synth_clip_assets Y4M clip of one document."""
    frames = [
        bytes([(doc_id * 31 + k * 17) % 256]) * (CLIP_W * CLIP_H)
        for k in range(4 + doc_id % 13)
    ]
    return (encode_y4m(CLIP_W, CLIP_H, CLIP_FPS, frames),)


def video_quality_gate(
    stats: DataFrame,
    min_duration_s: float = 0.05,
    static_min_frames: int = 8,
) -> DataFrame:
    """Classify video_stats rows the way audio_quality_gate
    classifies audio: first failing rule names the verdict
    (undecodable → 'undecoded', then too_short / static / ok) —
    pure built-ins over the already-computed stats, no second decode
    pass. 'static' = zero scene changes across ≥ static_min_frames
    frames: a frame-hold / slideshow still, the junk class a video
    curation pass drops before training."""
    return stats.withColumn(
        "verdict",
        F.when(~F.col("decoded"), "undecoded")
        .when(F.col("duration_s") < min_duration_s, "too_short")
        .when(
            (F.col("scene_changes") == 0)
            & (F.col("n_frames") >= static_min_frames),
            "static",
        )
        .otherwise("ok"),
    )


# --- patterned clips: the video→frame→image-dedup bridge ------------

#: number of dHash groups the patterned synth spreads frames over
PATTERN_GROUPS = 24
#: sampled-frame stride the bridge query uses (and its oracle
#: mirrors)
FRAME_EVERY_N = 4


def _pattern_plane(row_patterns: list[int]) -> bytes:
    # _frame_hash_rows emits at most 2·PATTERN_GROUPS distinct
    # patterns (base/perturbed per group), so the per-frame Python
    # plane construction is pure recomputation — cache per worker
    # (bytes are immutable; rows sharing a plane is safe)
    return _pattern_plane_cached(tuple(row_patterns))


@lru_cache(maxsize=512)
def _pattern_plane_cached(row_patterns: tuple[int, ...]) -> bytes:
    """Build a CLIP_W×CLIP_H Y plane whose dHash is EXACTLY the 64
    bits given as 8 per-row 8-bit patterns (row y's byte, MSB =
    leftmost comparison). Works by inverting the dHash pipeline:
    the 9×8 nearest-neighbor downsample of a 16×16 frame reads rows
    2y and columns [(x*16)//9], so we place a monotone step ramp at
    those positions — +1 step where the pattern bit is 1 (strict
    g[x] < g[x+1] → bit 1), flat where 0 (equal → bit 0). The
    gray→RGB→luma round-trip through encode_ppm/dhash64 is exact
    ((299v+587v+114v)//1000 == v), so the planted hash survives the
    REAL sample→PPM→decode→hash path bit-for-bit."""
    xs = [(x * CLIP_W) // 9 for x in range(9)]
    plane = bytearray(CLIP_W * CLIP_H)
    for ry in range(8):
        pat = row_patterns[ry]
        v = [100]
        for x in range(8):
            v.append(v[-1] + ((pat >> (7 - x)) & 1))
        row = bytearray(CLIP_W)
        vi = 0
        for x in range(CLIP_W):
            if vi + 1 < 9 and x == xs[vi + 1]:
                vi += 1
            row[x] = v[vi]
        for iy in (2 * ry, 2 * ry + 1):
            plane[iy * CLIP_W : (iy + 1) * CLIP_W] = bytes(row)
    return bytes(plane)


def _frame_hash_rows(doc_id: int, k: int) -> list[int]:
    """The planted 64-bit dHash of frame k of doc doc_id, as 8 row
    bytes — the closed form the oracle mirrors:

    - group m = (doc_id*3 + k) % PATTERN_GROUPS; base row pattern
      p(m) = (m*37) % 256 (distinct per group), all 8 rows;
    - frames with (doc_id + k) % 5 == 0 are PERTURBED: rows 6 and 7
      flip bit (m % 8) → Hamming distance EXACTLY 2 from the base.

    Within a group that yields two hash-identity classes (base,
    perturbed) at distance 2 ≤ DHASH_MAX_HAMMING — a guaranteed
    near-dup pair between their representatives — while ANY two
    frames from different groups differ in rows 0–5 alone by
    6·popcount(p(m)⊕p(m')) ≥ 6 > 3, so cross-group pairs are
    impossible. Every output row of phash_near_dup is therefore
    enumerable from (doc_id, k) arithmetic alone."""
    m = (doc_id * 3 + k) % PATTERN_GROUPS
    p = (m * 37) % 256
    rows = [p] * 8
    if (doc_id + k) % 5 == 0:
        flip = 1 << (m % 8)
        rows[6] ^= flip
        rows[7] ^= flip
    return rows


def synth_patterned_clips(docs: DataFrame) -> DataFrame:
    """Wrap text docs as Y4M clips with PLANTED per-frame dHashes
    (see _frame_hash_rows): ``4 + doc_id % 13`` frames, every frame
    a _pattern_plane. The dedup bridge's synth twin of
    synth_clip_assets — same geometry, structured instead of
    constant luma."""
    seeds = docs.select(F.col("doc_id").alias("asset_id"), "doc_id")
    return map_rows(seeds, _patterned_clip_row, "asset_id long, payload binary")


def _patterned_clip_row(doc_id: int) -> tuple:
    """(payload,): the synth_patterned_clips Y4M clip of one document."""
    frames = [
        _pattern_plane(_frame_hash_rows(doc_id, k)) for k in range(4 + doc_id % 13)
    ]
    return (encode_y4m(CLIP_W, CLIP_H, CLIP_FPS, frames),)


def _video_frame_dedup_oracle() -> str:
    # mirrors _frame_hash_rows' closed form AND phash_near_dup's
    # output contract: star pairs (min-id representative, member,
    # hamming 0) per hash-identity class (m, perturbed), plus one
    # near pair (hamming 2) between the two class reps of each group
    # that has both classes present
    return f"""
    WITH frames AS (
      SELECT doc_id,
             unnest(range(0, 4 + doc_id % 13, {FRAME_EVERY_N})) AS k
      FROM documents
    ),
    labeled AS (
      SELECT CAST(doc_id * 100 + k AS BIGINT) AS fid,
             (doc_id * 3 + k) % {PATTERN_GROUPS} AS m,
             CASE WHEN (doc_id + k) % 5 = 0 THEN 1 ELSE 0 END AS pert
      FROM frames
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


@query("q_video_frame_dedup", oracle=_video_frame_dedup_oracle())
def q_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video→frame→image-dedup BRIDGE end-to-end (VERDICT r8
    item 3): synthesize Y4M clips with planted per-frame dHashes,
    run the REAL sample_frames_y4m every-Nth decode → PPM re-encode,
    then push the stills through the image tier's perceptual
    near-dup pass (multimodal.phash_near_dup: band-blocked, star-
    collapsed, exact Hamming verify). The oracle enumerates the
    exact expected pair set from (doc_id, frame_idx) arithmetic —
    a bug anywhere in the Y4M codec, frame sampler, PPM round-trip,
    dHash kernel, banding, star collapse, or Hamming verify changes
    the pair set and breaks the value hash."""
    from .multimodal import phash_near_dup

    # 10x probe (sf0.1 docs replicated 10x, tools/scale_probe.py,
    # medians of 3): 3.18 -> 19.86 s for 10x clips AND 10x output
    # pairs — sub-linear per row; the Arrow synth/sample/dHash kernel
    # dominates (partition-parallel), the banded pair stage stays
    # bounded by the class count
    docs = load(spark, sf_dir, "documents")
    frames = sample_frames_y4m(synth_patterned_clips(docs), every_n=FRAME_EVERY_N)
    stills = frames.select(
        (F.col("asset_id") * 100 + F.col("frame_idx"))
        .cast("long")
        .alias("asset_id"),
        "payload",
    )
    return phash_near_dup(stills)


def _video_stats_oracle() -> str:
    # luma of frame k is (doc_id*31 + k*17) % 256 exactly (a constant
    # plane, so the frame mean IS the value); scene changes count
    # |luma_k - luma_{k-1}| >= SCENE_DELTA over consecutive frames
    luma = "CAST((doc_id * 31 + k * 17) % 256 AS DOUBLE)"
    prev = "CAST((doc_id * 31 + (k - 1) * 17) % 256 AS DOUBLE)"
    return f"""
    WITH g AS (
      SELECT doc_id AS asset_id,
             4 + doc_id % 13 AS n,
             list_transform(range(0, 4 + doc_id % 13), k -> {luma})
               AS lumas,
             list_transform(range(1, 4 + doc_id % 13),
                            k -> CASE WHEN abs({luma} - {prev})
                                           >= {SCENE_DELTA}
                                      THEN 1 ELSE 0 END) AS jumps
      FROM documents
    )
    SELECT asset_id,
           true AS decoded,
           {CLIP_W} AS width,
           {CLIP_H} AS height,
           CAST(n AS BIGINT) AS n_frames,
           CAST({CLIP_FPS} AS DOUBLE) AS fps,
           floor(n * 1.0 / {CLIP_FPS} * 1000000 + 0.5) / 1000000
             AS duration_s,
           floor(coalesce(list_sum(lumas), 0) / n * 1000000 + 0.5)
             / 1000000 AS mean_luma,
           CAST(coalesce(list_sum(jumps), 0) AS BIGINT) AS scene_changes
    FROM g
    """


@query("q_video_stats", oracle=_video_stats_oracle())
def q_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video ingest stats end-to-end: synthesize the deterministic
    Y4M clip per document, then run the REAL encode -> stream-header
    parse -> plane extraction -> per-frame measure loop in the Arrow
    kernel; the oracle recomputes every statistic analytically from
    doc_id (module docstring has the closed forms)."""
    docs = load(spark, sf_dir, "documents")
    return video_stats(synth_clip_assets(docs))
