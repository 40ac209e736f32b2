"""Streaming media-asset gate — the gate stage of the multimodal
curation funnel (mediadedup.media_curation_snapshot_writer composes
it with the near-dup screen, the media counterpart of the text
funnel pipeline.curation_batch_writer): a micro-batch stream of
opaque media payloads is split by kind, run through the batch
layer's own tier gates (never re-implemented here), and
written as the same two-sided audit the release builder produces —
every asset of every batch lands in exactly one of drops/manifest,
with the gate verdict as the drop reason.

Per micro-batch N::

    {root}/media_drops/batch_id=N    (asset_id, kind, reason)
    {root}/media_assets/batch_id=N   (asset_id, kind)

Gate dispatch by the ``kind`` column: ``image`` →
multimodal.classify_image_quality (undecodable / too_small /
bad_aspect / flat), ``audio`` → audio.audio_quality_gate (undecoded
/ too_short / clipped / silent), ``video`` →
video.video_quality_gate (undecoded / too_short / static). A kind
the gate table doesn't know — including a NULL kind, which shows up
in the audit as ``'unknown'`` — is AUDITED as ``unknown_kind``; the
rejects-audited-never-silent contract extends to misrouted rows.

Exactly-once: each batch's two outputs are overwrite-mode writes
into ``batch_id=N`` partitions keyed by the framework-stable
batch_id — a crash-replay of batch N rewrites byte-equivalent
partitions (the silver_batch_writer argument; replay idempotence is
pytest-locked). No state is read back, so there is no crash window
between the two writes: each is independently idempotent.

100 TB shape: per batch this is ONE Arrow decode pass per present
tier (each gate is a map-only ``functions.memo.map_rows`` plan —
multimodal.py/audio.py/video.py document their kernels) plus two
partition-local writes;
no join, no shuffle, no history read. The stream scales by
partitioning the payload column exactly like the batch gates.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query

#: the normalized audit row every tier's gate output maps onto
_GATED_COLS = ("asset_id", "kind", "reason")


def gate_media_batch(batch: DataFrame) -> DataFrame:
    """(asset_id, kind, reason): the per-asset gate verdicts for one
    mixed-kind batch — reason NULL means keep. Pure composition of
    the three batch-layer gates; exposed separately from the writer
    so the classification logic is testable without a sink."""
    from ..operators.audio import audio_quality_gate, audio_stats
    from ..operators.multimodal import classify_image_quality
    from ..operators.video import video_quality_gate, video_stats

    payloads = batch.select("asset_id", "kind", "payload")
    parts = []
    img = payloads.filter(F.col("kind") == "image").drop("kind")
    parts.append(
        classify_image_quality(img).select(
            "asset_id", F.lit("image").alias("kind"), "reason"
        )
    )
    aud = payloads.filter(F.col("kind") == "audio").drop("kind")
    parts.append(
        audio_quality_gate(audio_stats(aud)).select(
            "asset_id",
            F.lit("audio").alias("kind"),
            F.when(F.col("verdict") != "ok", F.col("verdict")).alias("reason"),
        )
    )
    vid = payloads.filter(F.col("kind") == "video").drop("kind")
    parts.append(
        video_quality_gate(video_stats(vid)).select(
            "asset_id",
            F.lit("video").alias("kind"),
            F.when(F.col("verdict") != "ok", F.col("verdict")).alias("reason"),
        )
    )
    # NULL-kind guard (VERDICT r9 item 1): under three-valued logic a
    # bare ~isin(...) evaluates NULL for NULL kind and the row would
    # match NO branch — a silent drop that breaks the exactly-one-of
    # drops/manifest closure. NULL kinds route here explicitly and
    # surface as kind='unknown' in the audit.
    other = payloads.filter(
        F.col("kind").isNull() | ~F.col("kind").isin("image", "audio", "video")
    )
    parts.append(
        other.select(
            "asset_id",
            F.coalesce(F.col("kind"), F.lit("unknown")).alias("kind"),
            F.lit("unknown_kind").alias("reason"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def media_gate_batch_writer(root: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: gate one micro-batch and write the
    two-sided audit (module docstring has layout + exactly-once
    argument)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        gated = gate_media_batch(batch).localCheckpoint()
        gated.filter(F.col("reason").isNotNull()).select(*_GATED_COLS).write.mode(
            "overwrite"
        ).parquet(f"{root}/media_drops/batch_id={batch_id}")
        gated.filter(F.col("reason").isNull()).select(
            "asset_id", "kind"
        ).write.mode("overwrite").parquet(
            f"{root}/media_assets/batch_id={batch_id}"
        )

    return write_batch


def start_media_gate_pipeline(
    spark: SparkSession,
    source_path: str,
    root: str,
    checkpoint: str,
    trigger: str | None = None,
):
    """Wire the streaming media gate: a parquet file source of
    (asset_id, kind, payload) rows → per-micro-batch gate + audit
    writes. ``trigger=None`` → availableNow."""
    schema = "asset_id long, kind string, payload binary"
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
        .writeStream.foreachBatch(media_gate_batch_writer(root))
        .option("checkpointLocation", checkpoint)
    )
    if trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def synth_gate_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, kind, payload): a mixed-kind asset table with
    CLOSED-FORM gate verdicts, one image/audio/video asset per doc
    (ids doc_id*4 / +1 / +2) plus, in the shared +3 slot, an
    unknown-kind row for every doc_id%10==0 and a NULL-kind row for
    every doc_id%10==5 (disjoint, so ids stay unique) — the driver
    fixture for q_media_gate; the NULL rows pin the r9 verdict's
    silent-drop fix (NULL kind → kind='unknown', unknown_kind):

    - image: doc_id%5==0 → 4×4 checker (too_small); else doc_id%3==0
      → 16×16 flat gray (flat); else 16×16 checker (keep);
    - audio: audio.synth_tone_assets (too_short when the closed-form
      sample count 160+(len(text)%200)*8 < 400, clipped every 7th
      doc, else keep);
    - video: video.synth_clip_assets (static when 4+doc_id%13 ≥ 8
      frames with zero luma-wrap scene jumps, else keep — never
      too_short at 25 fps)."""
    from ..functions.memo import map_rows
    from ..operators.audio import synth_tone_assets
    from ..operators.video import synth_clip_assets

    seeds = docs.select(F.col("doc_id").alias("asset_id"), "doc_id")
    image = map_rows(seeds, _gate_image_row, "asset_id long, payload binary").select(
        (F.col("asset_id") * 4).alias("asset_id"),
        F.lit("image").alias("kind"),
        "payload",
    )
    audio = synth_tone_assets(docs).select(
        (F.col("asset_id") * 4 + 1).alias("asset_id"),
        F.lit("audio").alias("kind"),
        "payload",
    )
    video = synth_clip_assets(docs).select(
        (F.col("asset_id") * 4 + 2).alias("asset_id"),
        F.lit("video").alias("kind"),
        "payload",
    )
    unknown = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") * 4 + 3).alias("asset_id"),
        F.lit("gif").alias("kind"),
        F.encode(F.lit("GIF89a..."), "UTF-8").alias("payload"),
    )
    nullkind = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") * 4 + 3).alias("asset_id"),
        F.lit(None).cast("string").alias("kind"),
        F.encode(F.lit("???"), "UTF-8").alias("payload"),
    )
    return (
        image.unionByName(audio)
        .unionByName(video)
        .unionByName(unknown)
        .unionByName(nullkind)
    )


@functools.cache
def _gate_ppms() -> dict[str, bytes]:
    """The three synth_gate_assets image payloads, built once per
    worker: a 4×4 checker, a 16×16 flat gray and a 16×16 checker."""
    from ..operators.multimodal import encode_ppm

    def checker(n: int) -> bytes:
        return bytes(
            v
            for y in range(n)
            for x in range(n)
            for v in ((255, 255, 255) if (x + y) % 2 == 0 else (0, 0, 0))
        )

    return {
        "small": encode_ppm(4, 4, checker(4)),
        "flat": encode_ppm(16, 16, bytes([100, 100, 100]) * 256),
        "ok": encode_ppm(16, 16, checker(16)),
    }


def _gate_image_row(doc_id: int) -> tuple:
    """(payload,): the synth_gate_assets image of one document."""
    case = "small" if doc_id % 5 == 0 else ("flat" if doc_id % 3 == 0 else "ok")
    return (_gate_ppms()[case],)


def _media_gate_oracle() -> str:
    # every tier's verdict recomputed analytically from doc_id/text
    # arithmetic: image from the synth's size/flatness cases (gate
    # precedence too_small before flat), audio from the tone synth's
    # closed forms (too_short before clipped; silence never fires),
    # video from the clip synth's luma-wrap jump count
    from ..operators.video import SCENE_DELTA

    luma = "CAST((doc_id * 31 + k * 17) % 256 AS DOUBLE)"
    prev = "CAST((doc_id * 31 + (k - 1) * 17) % 256 AS DOUBLE)"
    return f"""
    WITH img AS (
      SELECT CAST(doc_id * 4 AS BIGINT) AS asset_id,
             'image' AS kind,
             CASE WHEN doc_id % 5 = 0 THEN 'too_small'
                  WHEN doc_id % 3 = 0 THEN 'flat' END AS reason
      FROM documents
    ),
    aud AS (
      SELECT CAST(doc_id * 4 + 1 AS BIGINT) AS asset_id,
             'audio' AS kind,
             CASE WHEN 160 + (coalesce(length(text), 0) % 200) * 8 < 400
                    THEN 'too_short'
                  WHEN doc_id % 7 = 0 THEN 'clipped' END AS reason
      FROM documents
    ),
    vid AS (
      SELECT CAST(doc_id * 4 + 2 AS BIGINT) AS asset_id,
             'video' AS kind,
             CASE WHEN 4 + doc_id % 13 >= 8
                   AND coalesce(list_sum(list_transform(
                         range(1, 4 + doc_id % 13),
                         k -> CASE WHEN abs({luma} - {prev})
                                        >= {SCENE_DELTA}
                                   THEN 1 ELSE 0 END)), 0) = 0
                   THEN 'static' END AS reason
      FROM documents
    ),
    unk AS (
      SELECT CAST(doc_id * 4 + 3 AS BIGINT) AS asset_id,
             'gif' AS kind,
             'unknown_kind' AS reason
      FROM documents WHERE doc_id % 10 = 0
    ),
    nullkind AS (
      -- the r9 silent-drop fix pinned: NULL kind surfaces as
      -- kind='unknown' with reason='unknown_kind', never vanishes
      SELECT CAST(doc_id * 4 + 3 AS BIGINT) AS asset_id,
             'unknown' AS kind,
             'unknown_kind' AS reason
      FROM documents WHERE doc_id % 10 = 5
    )
    SELECT asset_id, kind, reason FROM img
    UNION ALL SELECT asset_id, kind, reason FROM aud
    UNION ALL SELECT asset_id, kind, reason FROM vid
    UNION ALL SELECT asset_id, kind, reason FROM unk
    UNION ALL SELECT asset_id, kind, reason FROM nullkind
    """


@query("q_media_gate", oracle=_media_gate_oracle())
def q_media_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming media gate's classification stage end-to-end:
    synthesize the mixed-kind asset table with closed-form verdicts,
    run the REAL kind dispatch + all three tier gates (decode
    kernels included), return (asset_id, kind, reason). The oracle
    recomputes every verdict analytically — a drift in the dispatch,
    any gate's thresholds or precedence, or any codec breaks the
    value hash."""
    from ..catalog import load

    docs = load(spark, sf_dir, "documents")
    return gate_media_batch(synth_gate_assets(docs))
