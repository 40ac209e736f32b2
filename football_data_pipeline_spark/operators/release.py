"""Corpus release builder — the one-call batch pipeline a data team
runs to turn a raw document table into a training-ready release
directory. Chains the engine's own passes (never re-implements
them):

0. rule gate           — optional (apply_rules=True):
                         rules.gopher_gate fronts the pipeline (it
                         runs at scan speed, so it sheds bulk before
                         anything priced-per-row); each reject is
                         audited with the FIRST failed rule's name
1. quality gate        — quality.classify_quality (model scores;
                         rejects audited, never silently dropped)
2. PII redaction       — redact.redact_pii (text rewritten BEFORE
                         anything durable is written)
3. exact dedup         — canonical word-set fingerprint, min-id
                         representative (dedup.q_dedup_exact's rule)
3b. substring trim     — optional (strip_substrings=True):
                         substring.strip_dup_spans cuts every ≥ k-word
                         repeated run from all but its canonical owner
4. dataset card        — datacard.dataset_card over the final
                         corpus, written as the release's datasheet
5. ordered shards      — sinks.write_training_shards (epoch-
                         deterministic order, bounded files)

Release layout::

    <path>/card/          one-file JSON datasheet (per source×lang)
    <path>/drops/         audit of every removed doc + reason
    <path>/shards/        shard=*/part-*.parquet, training-ready
    <path>/image_drops, /assets            (when assets given)
    <path>/audio_drops, /audio_assets      (when audio_assets given)
    <path>/video_drops, /video_assets      (when video_assets given)

The streaming counterparts are streaming/pipeline.curation_batch_writer
(text) and streaming/mediadedup.media_curation_snapshot_writer
(media) — same stages, micro-batch grain, near-dup classification
against the snapshot-log history instead of whole-corpus exact dedup.

Scale: every stage is an operator whose 100 TB shape is documented
at its definition; this module adds only doc_id equi-joins between
them and the final writes. The only actions are the three writes —
nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.rank import first_per_key
from ..registry import query
from ..sources.sinks import write_report_json, write_training_shards
from .datacard import dataset_card
from .dedup import _WORD_SET_SQL, fingerprint
from .quality import WEIGHT_MOD, WEIGHT_SALT, classify_quality
from .redact import EMAIL_TOKEN, PHONE_TOKEN, redact_pii


def release_frames(
    docs: DataFrame, apply_rules: bool = False, keep: str = "min_id"
) -> tuple[DataFrame, DataFrame]:
    """(drops, final): the release pipeline's two accounting halves
    as LAZY frames — every input doc lands in exactly one. Split out
    of build_release so the drop-attribution logic (quality gate →
    redact → exact dedup on the REDACTED text, optional rule gate in
    front) is driver-oracle-checkable (q_release_drops) instead of
    only write-path-tested; build_release consumes exactly these.

    ``keep`` picks the exact-dedup canonical policy (VERDICT r9 item
    4): ``'min_id'`` (deterministic default) or ``'best_quality'``
    (curation.best_of_group's argmax-quality rule — highest stage-1
    classifier score wins its fingerprint group, ties to min doc_id,
    NULL scores last). Either way every exact_duplicate drop row
    carries ``dup_of`` = its group's chosen canonical, so the audit
    names the survivor that superseded each dropped copy."""
    if keep not in ("min_id", "best_quality"):
        raise ValueError(f"keep must be 'min_id' or 'best_quality', got {keep!r}")
    rule_drops = None
    if apply_rules:
        from .rules import RULE_NAMES, gopher_gate

        gated = gopher_gate(docs)
        # attribute each reject to the FIRST failed rule (RULE_NAMES
        # order), so the drop audit says WHICH rule shed the doc
        first_fail = F.coalesce(
            *[
                F.when(~F.col(f"r_{k}"), F.lit(f"rule:{k}"))
                for k in RULE_NAMES
            ]
        )
        rule_drops = gated.filter(~F.col("passes")).select(
            "doc_id",
            "lang",
            "source",
            first_fail.alias("reason"),
            F.lit(None).cast("double").alias("score"),
            F.lit(None).cast("long").alias("dup_of"),
        )
        docs = gated.filter(F.col("passes")).select(*docs.columns)

    # localCheckpoint (r13): the classifier decision table is
    # node-sized (doc_id, score, keep) but its subtree is a corpus
    # scan + token explode + aggregate — and it feeds BOTH flagged
    # legs (rejected/survivors), each redacted leg and (under
    # best_quality) the canonical window, so without the cut the
    # classifier re-ran once per accounting leg (guide §8: decide on
    # small rows once, attach everywhere).
    scored = (
        classify_quality(docs).select("doc_id", "score", "keep").localCheckpoint()
    )
    flagged = docs.join(scored, "doc_id", "left")
    rejected = flagged.filter(~F.coalesce(F.col("keep"), F.lit(False))).select(
        "doc_id",
        "lang",
        "source",
        F.lit("low_quality").alias("reason"),
        "score",
        F.lit(None).cast("long").alias("dup_of"),
    )
    survivors = flagged.filter(F.coalesce("keep", F.lit(False))).drop(
        "score", "keep"
    )

    red = redact_pii(survivors).select("doc_id", "redacted_text")
    redacted = (
        survivors.join(red, "doc_id")
        .drop("text")
        .withColumnRenamed("redacted_text", "text")
        .withColumn("n_chars", F.length("text").cast("long"))
    )

    # localCheckpoint (r13): the (doc_id, fingerprint) decision
    # table is node-sized, but its subtree re-runs the survivor
    # join + PII redaction + canonical-form fingerprint — and it is
    # consumed by the canonical aggregate AND the dup join-back.
    fp = redacted.select(
        "doc_id", fingerprint(F.col("text")).alias("f")
    ).localCheckpoint()
    if keep == "min_id":
        canon = fp.groupBy("f").agg(F.min("doc_id").alias("canon"))
    else:
        # best_of_group's policy over the release's post-redaction
        # fingerprint groups: same one-exchange window shape, scores
        # are stage 1's (computed on the ORIGINAL text — redaction
        # must not change which copy wins)
        fp_scored = fp.join(
            scored.select("doc_id", F.col("score").alias("__score")), "doc_id", "left"
        )
        canon = first_per_key(
            fp_scored, ["f"], [F.desc_nulls_last("__score"), F.asc("doc_id")]
        ).select("f", F.col("doc_id").alias("canon"))
    dup_ids = (
        fp.join(canon, "f")
        .filter(F.col("doc_id") != F.col("canon"))
        .select("doc_id", "canon")
    )
    dup_drops = redacted.join(dup_ids, "doc_id").select(
        "doc_id",
        "lang",
        "source",
        F.lit("exact_duplicate").alias("reason"),
        F.lit(None).cast("double").alias("score"),
        F.col("canon").alias("dup_of"),
    )
    final = redacted.join(dup_ids.select("doc_id"), "doc_id", "left_anti")

    drops = rejected.unionByName(dup_drops)
    if rule_drops is not None:
        drops = rule_drops.unionByName(drops)
    return drops, final


def build_release(
    docs: DataFrame,
    path: str,
    epoch: int = 0,
    assets: DataFrame | None = None,
    audio_assets: DataFrame | None = None,
    video_assets: DataFrame | None = None,
    strip_substrings: bool = False,
    apply_rules: bool = False,
    keep: str = "min_id",
    dedup_media: bool = False,
) -> None:
    """Materialize a training-corpus release at ``path`` (see module
    docstring for stages and layout).

    ``assets`` (optional): a media-asset table (asset_id, payload,
    …) paired with the corpus. When given, the image quality gate
    (multimodal.classify_image_quality — undecodable / too-small /
    bad-aspect / flat) runs alongside the text gate: rejected assets
    are audited to ``<path>/image_drops`` with their reason, kept
    assets' manifest (id + dims + score) goes to
    ``<path>/assets`` — the same rejects-audited-never-silent
    contract as the text side. Accounting closure on the asset side
    mirrors the doc side: every input asset lands in exactly one of
    the two outputs.

    ``audio_assets`` / ``video_assets`` (optional): the other two
    media tiers (VERDICT r8 item 4), under the IDENTICAL contract.
    Audio payloads run audio.audio_stats → audio_quality_gate
    (undecoded / too_short / clipped / silent); rejects with their
    verdict-as-reason go to ``<path>/audio_drops``, kept signal
    manifests (id, rate, channels, duration, rms) to
    ``<path>/audio_assets``. Video payloads run video.video_stats →
    video_quality_gate (undecoded / too_short / static); rejects to
    ``<path>/video_drops``, kept clip manifests (id, dims, frame
    count, duration, scene changes) to ``<path>/video_assets``.
    Each tier is one Arrow decode pass materialized once
    (localCheckpoint) and split by verdict — the decode never runs
    twice, and no asset in any tier is ever silently dropped.

    ``keep``: the exact-dedup canonical policy — ``'min_id'`` or
    ``'best_quality'`` (release_frames docstring).

    ``dedup_media``: when True, each media tier's GATE-PASSED assets
    additionally run the shared perceptual near-dup resolution
    (streaming/mediadedup.media_dup_rejects batch-mode: banded pair
    pass → connected components → min-id owner); near-dup rejects are
    audited to the tier's drops with ``reason='near_duplicate'`` and
    ``dup_of`` = the surviving owner. Every tier's drop row carries a
    ``dup_of`` column either way (NULL for gate rejects), mirroring
    the text side's attribution."""
    drops, final = release_frames(docs, apply_rules=apply_rules, keep=keep)

    if strip_substrings:
        # ExactSubstr trim (substring.strip_dup_spans): cut every
        # ≥ k-word repeated run from all but its canonical owner.
        # Runs AFTER exact dedup (whole-copy removal is cheaper
        # there) and BEFORE the card/shards so the accounting and
        # the shipped text agree. n_chars is re-derived from the
        # trimmed text.
        from .substring import strip_dup_spans

        trimmed = strip_dup_spans(final.select("doc_id", "text")).withColumnRenamed(
            "text", "stripped_text"
        )
        final = (
            final.join(trimmed, "doc_id")
            .drop("text")
            .withColumnRenamed("stripped_text", "text")
            .withColumn("n_chars", F.length("text").cast("long"))
        )

    write_report_json(drops, f"{path}/drops")
    write_report_json(dataset_card(final), f"{path}/card")
    write_training_shards(
        final.select("doc_id", "text", "lang", "source", "n_chars"),
        f"{path}/shards",
        epoch=epoch,
    )

    no_dup = F.lit(None).cast("long").alias("dup_of")
    if assets is not None:
        from .multimodal import classify_image_quality

        # localCheckpoint: the Arrow decode pass is the expensive
        # stage — materialize once instead of re-decoding for each of
        # the two writes below (same device as phash_near_dup)
        gated = classify_image_quality(assets).localCheckpoint()
        idrops = gated.filter(~F.col("keep")).select(
            "asset_id", "reason", "score", no_dup
        )
        ikept = gated.filter(F.col("keep"))
        if dedup_media:
            rej = _media_near_dup(assets, ikept, "image")
            idrops = idrops.unionByName(
                rej.select(
                    "asset_id",
                    F.lit("near_duplicate").alias("reason"),
                    F.lit(None).cast("double").alias("score"),
                    "dup_of",
                )
            )
            ikept = ikept.join(rej.select("asset_id"), "asset_id", "left_anti")
        write_report_json(idrops, f"{path}/image_drops")
        write_report_json(
            ikept.select("asset_id", "width", "height", "score"),
            f"{path}/assets",
        )

    if audio_assets is not None:
        from .audio import audio_quality_gate, audio_stats

        # one decode pass, materialized once, split by verdict —
        # same device as the image tier above
        agated = audio_quality_gate(audio_stats(audio_assets)).localCheckpoint()
        adrops = agated.filter(F.col("verdict") != "ok").select(
            "asset_id", F.col("verdict").alias("reason"), no_dup
        )
        akept = agated.filter(F.col("verdict") == "ok")
        if dedup_media:
            rej = _media_near_dup(audio_assets, akept, "audio")
            adrops = adrops.unionByName(
                rej.select(
                    "asset_id", F.lit("near_duplicate").alias("reason"), "dup_of"
                )
            )
            akept = akept.join(rej.select("asset_id"), "asset_id", "left_anti")
        write_report_json(adrops, f"{path}/audio_drops")
        write_report_json(
            akept.select("asset_id", "rate", "channels", "duration_s", "rms"),
            f"{path}/audio_assets",
        )

    if video_assets is not None:
        from .video import video_quality_gate, video_stats

        vgated = video_quality_gate(video_stats(video_assets)).localCheckpoint()
        vdrops = vgated.filter(F.col("verdict") != "ok").select(
            "asset_id", F.col("verdict").alias("reason"), no_dup
        )
        vkept = vgated.filter(F.col("verdict") == "ok")
        if dedup_media:
            rej = _media_near_dup(video_assets, vkept, "video")
            vdrops = vdrops.unionByName(
                rej.select(
                    "asset_id", F.lit("near_duplicate").alias("reason"), "dup_of"
                )
            )
            vkept = vkept.join(rej.select("asset_id"), "asset_id", "left_anti")
        write_report_json(vdrops, f"{path}/video_drops")
        write_report_json(
            vkept.select(
                "asset_id",
                "width",
                "height",
                "n_frames",
                "duration_s",
                "scene_changes",
            ),
            f"{path}/video_assets",
        )


def _media_near_dup(assets: DataFrame, kept: DataFrame, kind: str) -> DataFrame:
    """(asset_id, dup_of, hamming): within-corpus perceptual near-dup
    rejects among one tier's GATE-PASSED assets — the streaming
    funnel's batch-mode resolution (banded pair pass → connected
    components → min-id owner), run with no history. Materialized
    once (localCheckpoint) because the caller consumes it for both
    the drops union and the manifest anti-join."""
    from ..streaming.mediadedup import media_dup_rejects, media_fingerprints

    kept_payloads = assets.join(kept.select("asset_id"), "asset_id").select(
        "asset_id", F.lit(kind).alias("kind"), "payload"
    )
    fps = media_fingerprints(kept_payloads).localCheckpoint()
    return media_dup_rejects(fps, None).select(
        "asset_id", "dup_of", "hamming"
    ).localCheckpoint()


def _release_drops_oracle(keep: str = "min_id") -> str:
    # mirrors release_frames stage by stage: hashed-linear quality
    # gate (quality.py's oracle shape), PII redaction of the
    # survivors (redact.py's nesting order), then exact dedup on the
    # REDACTED text with the canonical word-set fingerprint
    # (dedup.py's oracle shape); drops = low_quality ∪ exact_duplicate
    # with dup_of = the chosen canonical. keep='best_quality' swaps
    # the canon CTE for the argmax-score window (ties min doc_id).
    from .prep import EMAIL_RE, PHONE_RE

    h = f"CAST('0x' || substr(md5('{WEIGHT_SALT}' || w), 1, 8) AS BIGINT)"
    if keep == "min_id":
        canon_cte = "SELECT f, min(doc_id) AS canon FROM fp GROUP BY f"
    else:
        canon_cte = """
      SELECT f, doc_id AS canon FROM (
        SELECT p.f, p.doc_id,
               row_number() OVER (
                 PARTITION BY p.f
                 ORDER BY s.score DESC NULLS LAST, p.doc_id
               ) AS rn
        FROM fp p LEFT JOIN scored s ON s.doc_id = p.doc_id
      ) WHERE rn = 1"""
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             floor((CAST(sum(CAST(({h} % {WEIGHT_MOD} - 1000) / 1000.0
                                  AS DECIMAL(28,4))) AS DOUBLE) / count(*))
                   * 10000 + 0.5) / 10000 AS score,
             sum(CAST(({h} % {WEIGHT_MOD} - 1000) / 1000.0
                      AS DECIMAL(28,4))) > 0 AS keep
      FROM tok GROUP BY doc_id
    ),
    flagged AS (
      SELECT d.doc_id, d.lang, d.source, d.text, s.score,
             coalesce(s.keep, false) AS keep
      FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    ),
    rejected AS (
      SELECT doc_id, lang, source, 'low_quality' AS reason, score,
             CAST(NULL AS BIGINT) AS dup_of
      FROM flagged WHERE NOT keep
    ),
    red AS (
      SELECT doc_id, lang, source,
             regexp_replace(
               regexp_replace(text, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
               '{PHONE_RE}', '{PHONE_TOKEN}', 'g') AS text
      FROM flagged WHERE keep
    ),
    fp AS (
      SELECT doc_id, lang, source,
             md5(array_to_string(list_sort({_WORD_SET_SQL}), ' ')) AS f
      FROM red
    ),
    canon AS ({canon_cte}),
    dup AS (
      SELECT p.doc_id, p.lang, p.source,
             'exact_duplicate' AS reason, CAST(NULL AS DOUBLE) AS score,
             c.canon AS dup_of
      FROM fp p JOIN canon c ON c.f = p.f AND p.doc_id <> c.canon
    )
    SELECT doc_id, lang, source, reason, score, dup_of FROM rejected
    UNION ALL
    SELECT doc_id, lang, source, reason, score, dup_of FROM dup
    """


@query("q_release_drops", oracle=_release_drops_oracle())
def q_release_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release builder's drops audit as a checkable query: which
    documents build_release would reject and WHY (quality gate's
    score + verdict, or exact-duplicate-after-redaction attribution
    with dup_of = the surviving canonical). The oracle recomposes all
    three stages independently, so a drift anywhere in the
    gate→redact→dedup chain — or in the accounting glue between
    them — breaks the value hash, not just a pytest."""
    drops, _final = release_frames(load(spark, sf_dir, "documents"))
    return drops


@query("q_release_drops_best", oracle=_release_drops_oracle("best_quality"))
def q_release_drops_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drops audit under ``keep='best_quality'`` (VERDICT r9
    item 4): each exact-dup group's survivor is its argmax-score
    member, so the dup rows' doc_id/dup_of assignments differ from
    the min-id policy wherever the best copy isn't the oldest. The
    oracle recomputes the canonical with an independent window over
    the stage-1 scores."""
    drops, _final = release_frames(
        load(spark, sf_dir, "documents"), keep="best_quality"
    )
    return drops
