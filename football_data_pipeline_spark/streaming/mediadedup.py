"""Streaming media near-dup funnel — the media member of the funnel
family (text: pipeline.dedup_snapshot_writer screens documents
against accepted minhash history; vectors: vectors.py screens
embeddings against the accepted signature index; this module screens
arriving MEDIA assets against the accepted perceptual-fingerprint
history). Reference parity: none — LLM-data-pipeline extension
(SURVEY.md §2 scale extensions; VERDICT r9 item 2).

Fingerprints are the batch tiers' OWN kernels, never re-implemented:
``image`` → multimodal.image_phash (dHash), ``audio`` →
audiodedup.audio_fingerprint (envelope-difference bits), ``video`` →
video.sample_frames_y4m stills pushed through image_phash (the
q_video_frame_dedup bridge) — one fingerprint row per sampled frame.
All three share the 4×16-bit band layout, so ONE probe geometry
serves every kind: a fingerprint within DHASH_MAX_HAMMING (3) bits
of another is guaranteed ≥ 1 equal band (pigeonhole), and the
history probe is functions/lsh.band_pairs' history form — history is
never self-paired, so per-batch cost is arrival × bucket occupancy,
the incremental-dedup asymptote.

Layout (the vectors.py resolution protocol, media form)::

    {root}/rejected/batch_id=N   audit (asset_id, kind, dup_of,
                                 hamming, scope)
    {root}/accepted/batch_id=N   audit (asset_id, kind)
    {root}/fp_log + fp_data      snapshot table: the fp index
                                 (asset_id, kind, fp_seq, decoded,
                                 band0..3)

Per micro-batch N:

1. same-asset_id re-collections collapse deterministically (min
   (kind, payload) wins); unknown/NULL kinds reject up front with
   ``scope='unknown_kind'`` — rejects audited, never silent;
2. history near-dups: batch fingerprints probe the fp index
   (ACCEPTED assets only — a rejected near-copy can never evict
   future arrivals) by band_pairs' history form + exact Hamming
   verify; best owner per asset = min (hamming, owner id);
3. within-batch near-dups: fingerprint pairs from the SHARED banded
   pass (multimodal.hash_near_dup: star collapse + band blocking +
   Hamming verify), lifted to asset pairs, clustered with
   dedup.connected_components; each cluster's min asset id is
   canonical, the rest reject with ``dup_of`` = the canonical and
   ``hamming`` = their best DIRECT match (Hamming is not transitive
   across a component, so the direct number is the honest audit
   value — the vectors.py cosine argument);
4. history owns on overlap; a batch owner not itself
   history-rejected is accepted, so ``dup_of`` chains terminate in
   the accepted corpus in ≤ 2 hops, never dangling;
5. survivors land in ``accepted`` and their fingerprints in the fp
   index.

Exactly-once: the audits are batchId-keyed partition overwrites
(crash-replay of batch N rewrites byte-equivalent partitions); the fp
index is a snapshot_append_writer table (marker-last atomic commits,
a replay after the marker skips), read as of the newest commit
before batch N (snapshots.read_table_before_batch), so a replay never
screens a batch against its own fingerprints. The index gets time
travel and maintain() compaction from the log.

10x probe (sf0.1 docs replicated 10x, tools/scale_probe.py, medians
of 3): q_media_dedup 4.79 -> 23.98 s for 10x assets AND 10x output
rejects (4,285 -> 42,857) — 5x wall for 10x work, sub-linear per
row; the Arrow fingerprint kernel and the banded probes scale with
arrivals while rep-level candidates stay bounded by the class count
(the audiodedup/video-bridge argument, funnel form).

``media_curation_snapshot_writer`` composes the quality gate
(media.gate_media_batch) IN FRONT of this screen — gate rejects are
audited with their verdict and never fingerprinted — giving the full
gate→dedup funnel, the complete multimodal counterpart of the text
curation writer (pipeline.curation_batch_writer).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.lsh import band_pairs
from ..functions.memo import map_rows, payload_memo
from ..functions.rank import first_per_key
from ..operators.multimodal import (
    DHASH_BANDS,
    DHASH_BITS_PER_BAND,
    DHASH_MAX_HAMMING,
    hamming_pairs,
)
from ..registry import query

#: composite fingerprint-row key: fid = asset_id * FRAME_KEY + fp_seq
#: (fp_seq = sampled-frame index for video, 0 for image/audio). The
#: guard in media_fingerprints keeps fp_seq < FRAME_KEY so the
#: decomposition is exact.
FRAME_KEY = 1_000_000

#: sampled-frame stride for the video tier (the q_video_frame_dedup
#: bridge's constant)
MEDIA_FRAME_EVERY_N = 4

_BAND_COLS = [f"band{i}" for i in range(DHASH_BANDS)]
_FP_COLS = ["asset_id", "kind", "fp_seq", "decoded", *_BAND_COLS]


def media_fingerprints(
    batch: DataFrame, frame_every_n: int = MEDIA_FRAME_EVERY_N
) -> DataFrame:
    """(asset_id, kind, fp_seq, decoded, band0..3): every media
    asset's perceptual fingerprints via the batch tiers' own Arrow
    kernels — one row for image/audio (fp_seq 0), one per sampled
    frame for video (fp_seq = frame index). Non-media kinds get NO
    row here; the writer audits them before fingerprinting.
    Undecodable payloads fall back to md5 bands (decoded=false) in
    EVERY tier — byte-exact duplicates still collide; without the
    video fallback an undecodable clip would be accepted but never
    indexed, invisible to future byte-identical arrivals."""
    from ..operators.audiodedup import audio_fingerprint
    from ..operators.multimodal import image_phash

    payloads = batch.select("asset_id", "kind", "payload")
    img = image_phash(
        payloads.filter(F.col("kind") == "image").select("asset_id", "payload")
    ).select(
        "asset_id",
        F.lit("image").alias("kind"),
        F.lit(0).alias("fp_seq"),
        "decoded",
        *_BAND_COLS,
    )
    aud = audio_fingerprint(
        payloads.filter(F.col("kind") == "audio").select("asset_id", "payload")
    ).select(
        "asset_id",
        F.lit("audio").alias("kind"),
        F.lit(0).alias("fp_seq"),
        "decoded",
        *_BAND_COLS,
    )
    vid = video_fingerprints(
        payloads.filter(F.col("kind") == "video").select("asset_id", "payload"),
        frame_every_n,
    ).select(
        "asset_id",
        F.lit("video").alias("kind"),
        "fp_seq",
        "decoded",
        *_BAND_COLS,
    )
    return img.unionByName(aud).unionByName(vid)


@payload_memo(maxsize=256)
def _vfp_rows(payload: bytes, frame_every_n: int) -> tuple:
    """((fp_seq, decoded, band0..3), ...) for one clip payload — a
    pure function of (bytes, stride), memoized per worker (r13,
    guide §4.5): byte-exact duplicate clips skip the Y4M decode and
    per-frame dHash entirely. Keyed on the payload itself, never a
    digest, so a hash collision can never alias two distinct
    payloads."""
    import hashlib

    import numpy as np

    from ..operators.multimodal import dhash64
    from ..operators.video import try_decode_y4m

    got = try_decode_y4m(payload)
    if got is None:
        h = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
        return (
            (
                0,
                False,
                *(
                    (h >> (DHASH_BITS_PER_BAND * i)) & 0xFFFF
                    for i in range(DHASH_BANDS)
                ),
            ),
        )
    w, h_px, _fn, _fd, _cs, frames = got
    rows = []
    for idx in range(0, len(frames), frame_every_n):
        rgb = np.repeat(np.frombuffer(frames[idx], dtype="u1"), 3).tobytes()
        hv = dhash64(w, h_px, rgb)
        rows.append(
            (
                idx,
                True,
                *(
                    (hv >> (DHASH_BITS_PER_BAND * i)) & 0xFFFF
                    for i in range(DHASH_BANDS)
                ),
            )
        )
    return tuple(rows)


def video_fingerprints(
    assets: DataFrame, frame_every_n: int = MEDIA_FRAME_EVERY_N
) -> DataFrame:
    """(asset_id, fp_seq, decoded, band0..3): the video→frame→dHash
    bridge FUSED into one Arrow pass — decode the Y4M once and hash
    every Nth frame directly (video.sample_frames_y4m's gray→RGB
    expansion feeding multimodal.dhash64, bit-identical to the
    PPM-round-trip path the batch bridge uses, which is exact), no
    intermediate PPM re-encode/re-decode. Undecodable clips emit ONE
    md5-fallback row (fp_seq 0, decoded=false) like the image/audio
    kernels, so byte-exact duplicate junk still collides (many-row
    ``map_rows``)."""
    if frame_every_n < 1:
        raise ValueError("frame_every_n must be >= 1")
    schema = "asset_id long, fp_seq int, decoded boolean, " + ", ".join(
        f"{c} int" for c in _BAND_COLS
    )
    payloads = assets.select("asset_id", "payload")
    return map_rows(payloads, _vfp_rows, schema, frame_every_n, many=True)


def _fid(df: DataFrame) -> DataFrame:
    """Fingerprint rows keyed by the composite fid, in
    hash_near_dup's input schema (asset_id column = fid); kind rides
    along as the pair pass's partition key."""
    return df.select(
        (F.col("asset_id") * FRAME_KEY + F.col("fp_seq"))
        .cast("long")
        .alias("asset_id"),
        "kind",
        "decoded",
        *_BAND_COLS,
    )


def media_dup_rejects(
    fps: DataFrame,
    hist_fps: DataFrame | None = None,
    max_hamming: int = DHASH_MAX_HAMMING,
) -> DataFrame:
    """The funnel's classification stage, pure and sink-free (the
    gate_media_batch pattern): which assets of a fingerprinted batch
    are near-duplicates, of WHOM, at what distance, and in which
    scope — (asset_id, kind, dup_of, hamming, scope) with scope ∈
    {'history', 'batch'}. ``hist_fps`` is the accepted-corpus
    fingerprint table (None → first batch, within-batch only).

    History resolution: best owner = min (hamming, owner asset_id),
    one band-keyed equi join, history never self-paired. Batch
    resolution: shared banded pair pass → asset-level connected
    components → min-id canonical; history wins on overlap (module
    docstring, steps 2–4).

    Matching is PARTITIONED BY KIND: an image is never a near-dup of
    an audio clip, and at corpus scale (≥ 2³² assets) 64-bit
    fingerprints WILL collide across kinds by birthday alone — a
    kind-blind band join would spuriously reject on those. The pair
    pass runs per present kind (each a smaller input to the same
    shared machinery) and the history probe carries kind in its join
    key."""
    from ..operators.dedup import connected_components
    from ..operators.multimodal import hash_near_dup

    spark = fps.sparkSession
    kinds = fps.select("asset_id", "kind").distinct()

    # --- within-batch: fid-level pairs via the SHARED banded pass,
    # kind-keyed in ONE pass (r13 opt round; was one pass per kind —
    # three caches + three sets of shuffles, two of them running on
    # provably-empty inputs whenever a batch carries a single kind),
    # lifted to asset pairs (same-asset frame pairs are not dups).
    # `by=("kind",)` keeps matching PARTITIONED BY KIND: star collapse
    # and band blocking both carry kind in their keys, so the pair
    # set is identical to the per-kind union by construction
    # (tests/test_mediadedup_stream.py pins a cross-kind
    # band-collision fixture to zero pairs).
    fid_pairs = hash_near_dup(_fid(fps), max_hamming, by=("kind",))
    asset_pairs = (
        fid_pairs.select(
            F.expr(f"id_a DIV {FRAME_KEY}").alias("asset_a"),
            F.expr(f"id_b DIV {FRAME_KEY}").alias("asset_b"),
            "hamming",
        )
        .filter(F.col("asset_a") != F.col("asset_b"))
        .groupBy("asset_a", "asset_b")
        .agg(F.min("hamming").alias("hamming"))
        .localCheckpoint()
    )
    comp = connected_components(
        asset_pairs.select(
            F.col("asset_a").alias("doc_a"), F.col("asset_b").alias("doc_b")
        )
    )
    direct = (
        asset_pairs.select(F.col("asset_a").alias("asset_id"), "hamming")
        .unionByName(asset_pairs.select(F.col("asset_b").alias("asset_id"), "hamming"))
        .groupBy("asset_id")
        .agg(F.min("hamming").alias("hamming"))
    )
    within = (
        comp.filter(~F.col("is_canonical"))
        .select(F.col("doc_id").alias("asset_id"), F.col("component").alias("dup_of"))
        .join(direct, "asset_id")
        .withColumn("scope", F.lit("batch"))
    )

    # --- history probe: batch bands vs accepted-index bands (kind in
    # the key); verify = exact Hamming over the candidate fids
    if hist_fps is not None:
        bf, hf = _fid(fps), _fid(hist_fps)
        cand = band_pairs(bf, "asset_id", F.array(*_BAND_COLS), right=hf, by=("kind",))
        matches = (
            hamming_pairs(cand, "asset_id_a", "asset_id_b", bf, hf)
            .filter(F.col("hamming") <= max_hamming)
            .select(
                F.expr(f"asset_id_a DIV {FRAME_KEY}").alias("asset_id"),
                F.expr(f"asset_id_b DIV {FRAME_KEY}").alias("dup_of"),
                "hamming",
            )
        )
        against_hist = first_per_key(
            matches, ["asset_id"], ["hamming", "dup_of"]
        ).withColumn("scope", F.lit("history"))
    else:
        against_hist = spark.createDataFrame(
            [], "asset_id long, dup_of long, hamming int, scope string"
        )

    rejected = against_hist.unionByName(
        within.join(against_hist.select("asset_id"), "asset_id", "left_anti")
    )
    return rejected.join(kinds, "asset_id").select(
        "asset_id", "kind", "dup_of", "hamming", "scope"
    )


def _fp_snapshot_io(root: str):
    """(read_hist, write_fps) for the fp index snapshot table at
    ``{root}/fp_log`` + ``{root}/fp_data`` — shared by both media
    writers."""
    from ..sources.snapshots import (
        read_table_before_batch,
        snapshot_append_writer,
    )

    log = f"{root}/fp_log"
    fp_w = snapshot_append_writer(log, f"{root}/fp_data", [])

    def read_hist(spark, batch_id: int):
        return read_table_before_batch(spark, log, batch_id)

    return read_hist, fp_w


def media_dedup_snapshot_writer(
    root: str,
    max_hamming: int = DHASH_MAX_HAMMING,
    frame_every_n: int = MEDIA_FRAME_EVERY_N,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for a MEDIA stream of (asset_id, kind,
    payload) rows — the module docstring's five-step protocol.
    Layout and exactly-once arguments up top."""
    read_hist, write_fps = _fp_snapshot_io(root)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch_rows = first_per_key(batch, ["asset_id"], ["kind", "payload"])
        # unknown/NULL kinds reject up front (the gate's r9 lesson:
        # NULL-safe predicate, audited as kind='unknown')
        is_media = F.col("kind").isin("image", "audio", "video")
        misrouted = batch_rows.filter(F.col("kind").isNull() | ~is_media).select(
            "asset_id",
            F.coalesce(F.col("kind"), F.lit("unknown")).alias("kind"),
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(None).cast("int").alias("hamming"),
            F.lit("unknown_kind").alias("scope"),
        )
        media_rows = batch_rows.filter(is_media)

        # one Arrow fingerprint pass, reused by the pair stage, the
        # history probe and the index write
        fps = media_fingerprints(media_rows, frame_every_n).localCheckpoint()
        rejected = media_dup_rejects(
            fps, read_hist(spark, batch_id), max_hamming
        ).unionByName(misrouted)
        rejected.write.mode("overwrite").parquet(
            f"{root}/rejected/batch_id={batch_id}"
        )

        rej = spark.read.parquet(f"{root}/rejected/batch_id={batch_id}").select(
            "asset_id"
        )
        media_rows.join(rej, "asset_id", "left_anti").select(
            "asset_id", "kind"
        ).write.mode("overwrite").parquet(f"{root}/accepted/batch_id={batch_id}")
        # only ACCEPTED fingerprints are indexed — a rejected
        # near-copy can never evict future arrivals
        write_fps(
            fps.join(rej, "asset_id", "left_anti").select(*_FP_COLS), batch_id
        )

    return write_batch


def media_curation_snapshot_writer(
    root: str,
    max_hamming: int = DHASH_MAX_HAMMING,
    frame_every_n: int = MEDIA_FRAME_EVERY_N,
) -> Callable[[DataFrame, int], None]:
    """The FULL multimodal counterpart of the text curation funnel
    (pipeline.curation_batch_writer): per micro-batch, quality gate
    THEN near-dup screen, one unified audit. Stages are the two
    proven writers' own pieces, composed:

    1. gate: media.gate_media_batch — tier quality verdicts;
       rejects (including unknown/NULL kinds) audited with the
       verdict as ``reason``;
    2. dedup: only gate-PASSED assets are fingerprinted and screened
       (media_dup_rejects) — a rejected-by-gate asset never costs a
       fingerprint pass and never enters the index; near-dup rejects
       audited with ``reason='near_duplicate'`` + owner/hamming/scope;
    3. survivors → ``{root}/media_assets/batch_id=N``, their
       fingerprints → the fp index snapshot table (accepted only),
       all rejects → ``{root}/media_drops/batch_id=N``
       (asset_id, kind, reason, dup_of, hamming, scope).

    Exactly-once: identical to media_dedup_snapshot_writer (audits
    are batchId-keyed overwrites, the fp index a replay-guarded
    snapshot append, history read as of the newest commit before
    batch N). Closure: every asset of every batch lands in exactly
    one of drops/assets.

    Cost note: the gate's stats kernels and the fingerprint kernels
    are separate Arrow passes, so gate-PASSED payloads decode twice
    per batch (gate-rejected ones decode once and stop). Fusing the
    two kernels would save one decode at the price of coupling the
    tier gates to the fingerprint geometry — the funnel keeps them
    composable, like the batch release builder does."""
    from .media import gate_media_batch

    read_hist, write_fps = _fp_snapshot_io(root)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch_rows = first_per_key(batch, ["asset_id"], ["kind", "payload"])
        gated = gate_media_batch(batch_rows).localCheckpoint()
        gate_drops = gated.filter(F.col("reason").isNotNull()).select(
            "asset_id",
            "kind",
            "reason",
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(None).cast("int").alias("hamming"),
            F.lit(None).cast("string").alias("scope"),
        )
        passed = batch_rows.join(
            gated.filter(F.col("reason").isNull()).select("asset_id"), "asset_id"
        )
        fps = media_fingerprints(passed, frame_every_n).localCheckpoint()
        dup_drops = media_dup_rejects(
            fps, read_hist(spark, batch_id), max_hamming
        ).select(
            "asset_id",
            "kind",
            F.lit("near_duplicate").alias("reason"),
            "dup_of",
            "hamming",
            "scope",
        )
        gate_drops.unionByName(dup_drops).write.mode("overwrite").parquet(
            f"{root}/media_drops/batch_id={batch_id}"
        )

        rej = spark.read.parquet(
            f"{root}/media_drops/batch_id={batch_id}"
        ).select("asset_id")
        passed.join(rej, "asset_id", "left_anti").select(
            "asset_id", "kind"
        ).write.mode("overwrite").parquet(
            f"{root}/media_assets/batch_id={batch_id}"
        )
        write_fps(
            fps.join(rej, "asset_id", "left_anti").select(*_FP_COLS), batch_id
        )

    return write_batch


def start_media_dedup_pipeline(
    spark: SparkSession,
    source_path: str,
    root: str,
    checkpoint: str,
    trigger: str | None = None,
):
    """Wire the funnel: a parquet file source of (asset_id, kind,
    payload) rows → per-micro-batch screen + audit writes
    (media_dedup_snapshot_writer). ``trigger=None`` → availableNow."""
    schema = "asset_id long, kind string, payload binary"
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
        .writeStream.foreachBatch(media_dedup_snapshot_writer(root))
        .option("checkpointLocation", checkpoint)
    )
    if trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


# --- driver oracle: the COMBINED gate→dedup classification ----------


def _synth_curation_assets(docs: DataFrame) -> DataFrame:
    """Mixed-kind fixture with closed-form GATE verdicts AND
    closed-form FINGERPRINTS (ids doc*4 / +1 / +2):

    - image: media.synth_gate_assets' image tier — too_small
      (doc%5==0) / flat (doc%3==0) / else one IDENTICAL 16×16
      checker, so every kept image shares one fingerprint;
    - audio: audiodedup.synth_patterned_tones — all gate-pass
      (0.203 s, unclipped, non-silent), (m, pert) fingerprint
      classes;
    - video: media's synth_clip_assets tier — static or kept; kept
      clips are CONSTANT-luma frames whose dHash is 0, so every kept
      video shares fingerprint 0 — which COLLIDES with the audio
      m=0 base class's all-zero fingerprint: this fixture fails
      under kind-blind matching, pinning the per-kind partition."""
    from ..operators.audiodedup import synth_patterned_tones
    from .media import synth_gate_assets

    base = synth_gate_assets(docs)
    img = base.filter(F.col("kind") == "image")
    vid = base.filter(F.col("kind") == "video")
    aud = synth_patterned_tones(docs).select(
        (F.col("asset_id") * 4 + 1).alias("asset_id"),
        F.lit("audio").alias("kind"),
        "payload",
    )
    return img.unionByName(aud).unionByName(vid)


def _media_curation_oracle() -> str:
    # gate verdicts = media._media_gate_oracle's image/video closed
    # forms (audio all-pass); dedup closed forms: kept images one
    # fingerprint (owner = min hist kept image), kept videos one
    # fingerprint (owner = min hist kept video), audio = the
    # q_media_dedup class logic with aid = 4·doc+1
    from ..operators.audiodedup import ENV_GROUPS
    from ..operators.video import SCENE_DELTA

    luma = "CAST((doc_id * 31 + k * 17) % 256 AS DOUBLE)"
    prev = "CAST((doc_id * 31 + (k - 1) * 17) % 256 AS DOUBLE)"
    return f"""
    WITH img AS (
      SELECT CAST(doc_id * 4 AS BIGINT) AS asset_id,
             CASE WHEN doc_id % 5 = 0 THEN 'too_small'
                  WHEN doc_id % 3 = 0 THEN 'flat' END AS reason,
             doc_id % 7 = 0 AS is_hist
      FROM documents
    ),
    vid AS (
      SELECT CAST(doc_id * 4 + 2 AS BIGINT) AS asset_id,
             CASE WHEN 4 + doc_id % 13 >= 8
                   AND coalesce(list_sum(list_transform(
                         range(1, 4 + doc_id % 13),
                         k -> CASE WHEN abs({luma} - {prev})
                                        >= {SCENE_DELTA}
                                   THEN 1 ELSE 0 END)), 0) = 0
                   THEN 'static' END AS reason,
             doc_id % 7 = 0 AS is_hist
      FROM documents
    ),
    aud AS (
      SELECT CAST(doc_id * 4 + 1 AS BIGINT) AS aid,
             doc_id % {ENV_GROUPS} AS m,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS pert,
             doc_id % 7 = 0 AS is_hist
      FROM documents
    ),
    gate_drops AS (
      SELECT asset_id, 'image' AS kind, reason FROM img
      WHERE NOT is_hist AND reason IS NOT NULL
      UNION ALL
      SELECT asset_id, 'video' AS kind, reason FROM vid
      WHERE NOT is_hist AND reason IS NOT NULL
    ),
    img_owner AS (
      SELECT min(asset_id) AS o FROM img WHERE is_hist AND reason IS NULL
    ),
    vid_owner AS (
      SELECT min(asset_id) AS o FROM vid WHERE is_hist AND reason IS NULL
    ),
    media_dups AS (
      SELECT i.asset_id, 'image' AS kind, (SELECT o FROM img_owner) AS dup_of
      FROM img i WHERE NOT i.is_hist AND i.reason IS NULL
      UNION ALL
      SELECT v.asset_id, 'video' AS kind, (SELECT o FROM vid_owner) AS dup_of
      FROM vid v WHERE NOT v.is_hist AND v.reason IS NULL
    ),
    hist_cls AS (
      SELECT m, pert, min(aid) AS owner FROM aud WHERE is_hist
      GROUP BY m, pert
    ),
    arr AS (SELECT aid, m, pert FROM aud WHERE NOT is_hist),
    hist_hits AS (
      SELECT a.aid, coalesce(s.owner, o.owner) AS dup_of,
             CASE WHEN s.owner IS NOT NULL THEN 0 ELSE 2 END AS hamming
      FROM arr a
      LEFT JOIN hist_cls s ON s.m = a.m AND s.pert = a.pert
      LEFT JOIN hist_cls o ON o.m = a.m AND o.pert = 1 - a.pert
      WHERE coalesce(s.owner, o.owner) IS NOT NULL
    ),
    grp AS (SELECT m, min(aid) AS canon, count(*) AS n FROM arr GROUP BY m),
    cls_n AS (SELECT m, pert, count(*) AS n_cls FROM arr GROUP BY m, pert),
    batch_rej AS (
      SELECT a.aid, g.canon AS dup_of,
             CASE WHEN c.n_cls >= 2 THEN 0 ELSE 2 END AS hamming
      FROM arr a
      JOIN grp g ON g.m = a.m
      JOIN cls_n c ON c.m = a.m AND c.pert = a.pert
      WHERE a.aid <> g.canon AND g.n >= 2
    )
    SELECT asset_id, kind, reason,
           CAST(NULL AS BIGINT) AS dup_of,
           CAST(NULL AS INTEGER) AS hamming,
           CAST(NULL AS VARCHAR) AS scope
    FROM gate_drops
    UNION ALL
    SELECT asset_id, kind, 'near_duplicate' AS reason, dup_of,
           CAST(0 AS INTEGER) AS hamming, 'history' AS scope
    FROM media_dups
    UNION ALL
    SELECT aid AS asset_id, 'audio' AS kind, 'near_duplicate' AS reason,
           dup_of, CAST(hamming AS INTEGER) AS hamming, 'history' AS scope
    FROM hist_hits
    UNION ALL
    SELECT b.aid AS asset_id, 'audio' AS kind, 'near_duplicate' AS reason,
           b.dup_of, CAST(b.hamming AS INTEGER) AS hamming, 'batch' AS scope
    FROM batch_rej b
    WHERE b.aid NOT IN (SELECT aid FROM hist_hits)
    """


@query("q_media_curation", oracle=_media_curation_oracle())
def q_media_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMBINED media curation funnel's classification stage
    end-to-end over all three kinds: gate every asset (real tier
    gates + codecs), then screen the gate-passed arriving half
    against the gate-passed history half's fingerprints (real
    fingerprint kernels + per-kind banded resolution). Returns every
    reject with verdict or owner/hamming/scope. The oracle recomputes
    the full decision table from doc_id arithmetic; the fixture's
    video/audio zero-fingerprint collision makes kind-blind matching
    fail the hash (module docstring of _synth_curation_assets)."""
    from ..catalog import load
    from .media import gate_media_batch

    docs = load(spark, sf_dir, "documents")
    assets = _synth_curation_assets(docs)
    doc = F.expr("asset_id DIV 4")
    arriving = assets.filter(doc % 7 != 0)
    hist = assets.filter(doc % 7 == 0)

    gated_arr = gate_media_batch(arriving).localCheckpoint()
    gate_drops = gated_arr.filter(F.col("reason").isNotNull()).select(
        "asset_id",
        "kind",
        "reason",
        F.lit(None).cast("long").alias("dup_of"),
        F.lit(None).cast("int").alias("hamming"),
        F.lit(None).cast("string").alias("scope"),
    )
    passed_arr = arriving.join(
        gated_arr.filter(F.col("reason").isNull()).select("asset_id"), "asset_id"
    )
    passed_hist = hist.join(
        gate_media_batch(hist)
        .filter(F.col("reason").isNull())
        .select("asset_id"),
        "asset_id",
    )
    dup = media_dup_rejects(
        media_fingerprints(passed_arr).localCheckpoint(),
        media_fingerprints(passed_hist).localCheckpoint(),
    ).select(
        "asset_id",
        "kind",
        F.lit("near_duplicate").alias("reason"),
        "dup_of",
        "hamming",
        "scope",
    )
    return gate_drops.unionByName(dup)


# --- driver oracle: the classification stage over planted tones -----


def _media_dedup_oracle() -> str:
    # the audio tier's planted fingerprints (audiodedup._tone_hash_
    # rows closed form) split into an accepted HISTORY (doc_id%7==0)
    # and an ARRIVING batch (the rest): class = (m = doc_id%24,
    # pert = doc_id%5==0), within-class Hamming 0, base↔perturbed of
    # the same m exactly 2, cross-group > 3. 7 is coprime to 24·5, so
    # some classes have NO history member (the CRT modulus 840
    # exceeds the sf0.01 corpus) — both scopes get real rows.
    from ..operators.audiodedup import ENV_GROUPS

    return f"""
    WITH labeled AS (
      SELECT CAST(doc_id AS BIGINT) AS aid,
             doc_id % {ENV_GROUPS} AS m,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS pert,
             doc_id % 7 = 0 AS is_hist
      FROM documents
    ),
    hist_cls AS (
      SELECT m, pert, min(aid) AS owner FROM labeled
      WHERE is_hist GROUP BY m, pert
    ),
    arr AS (SELECT aid, m, pert FROM labeled WHERE NOT is_hist),
    hist_hits AS (
      -- owner preference: same class at hamming 0, else the sibling
      -- class (same m, other pert) at hamming 2 — min (hamming, id)
      SELECT a.aid, coalesce(s.owner, o.owner) AS dup_of,
             CASE WHEN s.owner IS NOT NULL THEN 0 ELSE 2 END AS hamming,
             'history' AS scope
      FROM arr a
      LEFT JOIN hist_cls s ON s.m = a.m AND s.pert = a.pert
      LEFT JOIN hist_cls o ON o.m = a.m AND o.pert = 1 - a.pert
      WHERE coalesce(s.owner, o.owner) IS NOT NULL
    ),
    grp AS (
      -- within-batch: every arriving asset of group m is one
      -- component (base↔perturbed at distance 2 connects the two
      -- classes); canonical = min arriving id of the m
      SELECT m, min(aid) AS canon, count(*) AS n FROM arr GROUP BY m
    ),
    cls_n AS (
      SELECT m, pert, count(*) AS n_cls FROM arr GROUP BY m, pert
    ),
    batch_rej AS (
      SELECT a.aid, g.canon AS dup_of,
             CASE WHEN c.n_cls >= 2 THEN 0 ELSE 2 END AS hamming,
             'batch' AS scope
      FROM arr a
      JOIN grp g ON g.m = a.m
      JOIN cls_n c ON c.m = a.m AND c.pert = a.pert
      WHERE a.aid <> g.canon AND g.n >= 2
    )
    SELECT aid AS asset_id, 'audio' AS kind, dup_of,
           CAST(hamming AS INTEGER) AS hamming, scope
    FROM hist_hits
    UNION ALL
    SELECT b.aid AS asset_id, 'audio' AS kind, b.dup_of,
           CAST(b.hamming AS INTEGER) AS hamming, b.scope
    FROM batch_rej b
    WHERE b.aid NOT IN (SELECT aid FROM hist_hits)
    """


@query("q_media_dedup", oracle=_media_dedup_oracle())
def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming media dedup funnel's classification stage
    end-to-end: synthesize WAV tones with planted envelope
    fingerprints (audiodedup.synth_patterned_tones), split them into
    an accepted history (doc_id%7==0) and an arriving batch, run the
    REAL fingerprint kernel + history band probe + within-batch
    banded pair pass + component resolution, return every reject
    with its owner, Hamming distance and scope. The oracle
    recomputes the full decision table from doc_id arithmetic — a
    drift in the probe geometry, the Hamming verify, owner
    preference, component canonicalization, or history-wins overlap
    resolution breaks the value hash."""
    from ..catalog import load
    from ..operators.audiodedup import synth_patterned_tones

    docs = load(spark, sf_dir, "documents")
    tones = synth_patterned_tones(docs).withColumn("kind", F.lit("audio"))
    fps = media_fingerprints(
        tones.filter(F.col("asset_id") % 7 != 0)
    ).localCheckpoint()
    hist_fps = media_fingerprints(
        tones.filter(F.col("asset_id") % 7 == 0)
    ).localCheckpoint()
    return media_dup_rejects(fps, hist_fps)
