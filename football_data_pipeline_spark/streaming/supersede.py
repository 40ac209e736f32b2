"""Keep-best streaming dedup — the STREAMING form of quality-aware
canonical selection (operators/curation.py's best_of_group policy,
VERDICT r9 item 3 theme, applied to the incremental funnel).
Reference parity: none — LLM-data-pipeline extension.

The plain dedup funnel (pipeline.dedup_snapshot_writer) is
first-arrival-wins: once a document is accepted, every later
near-copy is rejected — even a cleaner, fuller copy of the same
content. A keep-the-best corpus instead lets a HIGHER-QUALITY
arrival SUPERSEDE its accepted owner: the arrival is accepted, the
old owner gets a tombstone, and the live corpus is
``accepted − tombstoned``. Classic crawl reality: the first copy of
a page is often the truncated or boilerplate-ridden one.

Layout::

    {root}/accepted_log + accepted_data       snapshot table: full doc
                                              rows (unique + superseding)
    {root}/tombstones_log + tombstones_data   snapshot table: (doc_id,
                                              superseded_by, score,
                                              new_score)
    {root}/classification/batch_id=N          audit (doc_id, dup_kind,
                                              matched_doc, jaccard)
    {root}/rejected/batch_id=N                audit (doc_id, dup_of,
                                              reason)

Decision rule, per arriving doc classified dup-of live owner O:
score(arrival) > score(O) STRICTLY (quality.classify_quality, the
engine's one quality score) → arrival accepted, O tombstoned with
both scores in the audit row; ties and worse keep the incumbent
(stability: replaying equal-quality copies can never flip-flop the
corpus). Within-batch collapse stays min-id (pipeline.collapsed_batch)
— the batch-level best-of policy is curation.best_of_group; this
module is about BATCH-vs-HISTORY supersession.

Correctness of owner liveness: the history the probe sees is
``accepted − tombstones`` (both as of the newest commit before batch
N), so a dup is always compared against the CURRENT owner, never a
superseded one — without this, a doc could beat a long-dead copy
while losing to its live superseder. Tombstoned docs leave the probe
set entirely; their content is still represented by whoever
superseded them (near-dup of the old owner ⇒ near-dup of the new
owner at the working thresholds, the standard LSH-family
transitivity-at-high-similarity argument — and any miss is a false
NEGATIVE of the screen, the same failure class the base funnel
already accepts from banding).

Exactly-once: accepted and tombstones are snapshot_append_writer
tables — every micro-batch is a marker-last atomic commit, and a
replay after the marker skips it (batch_id guard). Every history
read is AS OF the newest commit whose marker's batch_id predates
batch N (snapshots.read_table_before_batch), so a replay of batch N
never sees its own output — including its own tombstones. The two
logs commit separately: a crash between them leaves
accepted-committed / tombstones-not, and the replay converges
because each appender is individually replay-guarded and the
decisions recompute deterministically from the persisted
classification read-back and the AS-OF history. The audits are
plain batchId-keyed overwrites. The scoring join is arrival-bounded
(only owners actually referenced by this batch's dups are
re-scored).

100 TB shape: the probe is pipeline/dedup.py's incremental pass
unchanged; this module adds one anti-join of history against the
(tiny, reject-rate-bounded) tombstone set and one classify_quality
pass over arrivals + referenced owners — arrival-rate work, never
corpus-rate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.materialize import cached
from ..registry import query
from .pipeline import collapsed_batch


def supersede_decisions(
    new_docs: DataFrame,
    history: DataFrame,
    classified: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, dup_of, score, new_score, wins) — the keep-best
    DECISION TABLE for every new doc classified as a dup of a live
    history owner: the owner's and arrival's quality scores and
    whether the arrival wins (strictly higher; NULL arrival scores
    never win, NULL owner scores lose to any scored arrival). Pure
    and sink-free so the driver oracle can check it
    (``q_supersede``); the writer consumes exactly this. Pass
    ``classified`` to reuse an already-persisted classification
    (the writer's exactly-once read-back)."""
    from ..operators.dedup import dedup_against_corpus
    from ..operators.quality import classify_quality

    if classified is None:
        classified = dedup_against_corpus(new_docs, history)
    dups = classified.filter(F.col("dup_kind") != "unique").select(
        "doc_id", F.col("matched_doc").alias("dup_of")
    )
    arr_scores = classify_quality(
        new_docs.join(dups.select("doc_id"), "doc_id")
    ).select("doc_id", F.col("score").alias("new_score"))
    owner_rows = history.join(
        dups.select(F.col("dup_of").alias("doc_id")).distinct(), "doc_id"
    )
    own_scores = classify_quality(owner_rows).select(
        F.col("doc_id").alias("dup_of"), "score"
    )
    return (
        dups.join(arr_scores, "doc_id", "left")
        .join(own_scores, "dup_of", "left")
        .withColumn(
            "wins",
            F.when(F.col("new_score").isNull(), F.lit(False)).otherwise(
                F.col("score").isNull()
                | (F.col("new_score") > F.col("score"))
            ),
        )
        .select("doc_id", "dup_of", "score", "new_score", "wins")
    )


def _supersede_oracle() -> str:
    # the incremental-dedup oracle's classification (dups only) plus
    # the quality oracle's per-doc score, compared under the strict
    # NULL-aware rule — both engines round the score to 4dp, so the
    # comparison can never disagree at a float boundary
    from ..operators.dedup import _incremental_oracle
    from ..operators.quality import WEIGHT_MOD, WEIGHT_SALT

    h = f"CAST('0x' || substr(md5('{WEIGHT_SALT}' || w), 1, 8) AS BIGINT)"
    return f"""
    WITH inc AS (
      SELECT doc_id, matched_doc AS dup_of
      FROM ({_incremental_oracle()}) WHERE dup_kind <> 'unique'
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             floor((CAST(sum(CAST(({h} % {WEIGHT_MOD} - 1000) / 1000.0
                                  AS DECIMAL(28,4))) AS DOUBLE) / count(*))
                   * 10000 + 0.5) / 10000 AS score
      FROM tok GROUP BY doc_id
    )
    SELECT i.doc_id, i.dup_of, o.score, a.score AS new_score,
           CASE WHEN a.score IS NULL THEN FALSE
                ELSE o.score IS NULL OR a.score > o.score END AS wins
    FROM inc i
    LEFT JOIN scored a ON a.doc_id = i.doc_id
    LEFT JOIN scored o ON o.doc_id = i.dup_of
    """


@query("q_supersede", oracle=_supersede_oracle())
def q_supersede(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-best funnel's decision stage over the incremental
    split (q_dedup_incremental's deterministic 20/80): every 'new'
    doc classified dup of a 'history' owner, both quality scores,
    and whether the arrival supersedes. The oracle recomposes the
    classification fixpoint AND the scores independently — a drift
    in the dedup probe, the scoring, or the strict NULL-aware win
    rule breaks the value hash."""
    from ..catalog import load
    from ..operators.dedup import INCR_MOD, INCR_SALT
    from ..operators.sampling import sample_bucket

    docs = load(spark, sf_dir, "documents")
    split = F.pmod(sample_bucket(F.col("doc_id"), INCR_SALT), F.lit(INCR_MOD))
    return supersede_decisions(
        docs.filter(split == 0), docs.filter(split != 0)
    )


#: "all batches" watermark for read_live_corpus_snapshot — any id
#: above every real batch id
_ALL_BATCHES = 1 << 62


def _snapshot_live_history(
    spark: SparkSession, root: str, batch_id: int
) -> DataFrame | None:
    """accepted − tombstoned, both as of the newest commit before
    ``batch_id``; None before the first accepted commit."""
    from ..sources.snapshots import read_table_before_batch

    acc = read_table_before_batch(spark, f"{root}/accepted_log", batch_id)
    if acc is None:
        return None
    tomb = read_table_before_batch(spark, f"{root}/tombstones_log", batch_id)
    if tomb is None:
        return acc
    return acc.join(tomb.select("doc_id"), "doc_id", "left_anti")


def keep_best_snapshot_writer(
    corpus_root: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for a DOCUMENT stream under the keep-best
    policy — module docstring has layout, decision rule, liveness and
    exactly-once arguments."""
    from ..sources.snapshots import snapshot_append_writer

    acc_write = snapshot_append_writer(
        f"{corpus_root}/accepted_log", f"{corpus_root}/accepted_data", []
    )
    tomb_write = snapshot_append_writer(
        f"{corpus_root}/tombstones_log", f"{corpus_root}/tombstones_data", []
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import dedup_against_corpus

        spark = batch.sparkSession
        cls_path = f"{corpus_root}/classification/batch_id={batch_id}"
        with collapsed_batch(batch) as batch_rows:
            history = _snapshot_live_history(spark, corpus_root, batch_id)
            if history is None:
                history = spark.createDataFrame([], batch_rows.schema)
            with cached(history) as history:
                dedup_against_corpus(batch_rows, history).write.mode(
                    "overwrite"
                ).parquet(cls_path)
                cls = spark.read.parquet(cls_path)
                judged = supersede_decisions(
                    batch_rows, history, classified=cls
                ).localCheckpoint()
                judged.filter(~F.col("wins")).select(
                    "doc_id",
                    "dup_of",
                    F.lit("duplicate_not_better").alias("reason"),
                ).write.mode("overwrite").parquet(
                    f"{corpus_root}/rejected/batch_id={batch_id}"
                )
                keep_ids = cls.filter(F.col("dup_kind") == "unique").select(
                    "doc_id"
                ).unionByName(judged.filter(F.col("wins")).select("doc_id"))
                # accepted first, so a crash between the two commits
                # never hides an accepted doc's tombstone from a
                # FUTURE batch without also replaying this one
                acc_write(batch_rows.join(keep_ids, "doc_id"), batch_id)
                tomb_write(
                    judged.filter(F.col("wins")).select(
                        F.col("dup_of").alias("doc_id"),
                        F.col("doc_id").alias("superseded_by"),
                        "score",
                        "new_score",
                    ),
                    batch_id,
                )

    return write_batch


def read_live_corpus_snapshot(
    spark: SparkSession, corpus_root: str
) -> DataFrame:
    """The corpus a consumer trains on: latest committed accepted
    snapshot minus latest committed tombstones. Because both are
    snapshot tables, any HISTORICAL corpus state is one
    ``_snapshot_live_history(batch_id)`` read away."""
    live = _snapshot_live_history(spark, corpus_root, _ALL_BATCHES)
    if live is None:
        raise ValueError(f"no accepted snapshots under {corpus_root!r}")
    return live
