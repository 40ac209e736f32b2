"""T1: the drivable streaming ingest pipeline — ProcessingTime
trigger + ``foreachBatch`` into the silver writers.

The reference's "stream" is a GitHub Actions cron: collect every 30
minutes, fan each document out to 8 tables
(.github/workflows/football-data-pipeline.yml:5-10 triggers,
database_integration.py:75-119 fan-out). Structured-Streaming-native
form:

    bronze file source (readStream + declared schema)
      → foreachBatch: run the REAL batch flatteners on the micro-batch
      → dims merged (replace / insert-if-absent), facts appended
         date-partitioned

The trigger IS the cron cadence: ``ProcessingTime("30 minutes")`` in
production, ``availableNow`` for drain-and-stop runs (tests, backfill).
Because each micro-batch calls the same pure batch transforms the
oracle gate already checks, stream and batch cannot drift.

Delivery semantics: exactly-once end-to-end on plain Parquet.
- Each dim merge is one sources/sinks.rewrite_table call: the merged
  dim is written to a sibling directory and renamed into place, so a
  crash at any point leaves either the old dim or, between the two
  renames, its only copy at ``<dim>.__merge_old__``, which the
  replayed batch's rewrite restores before it reads. A dim that
  exists but cannot be read fails the batch; it is never taken as
  absent and rebuilt from the batch's rows. Replaying a batch
  re-derives the same keyed state (replace and insert-if-absent are
  idempotent).
- Fact writes are batchId-keyed: each micro-batch OVERWRITES its own
  ``batch_id=<n>`` partition directory, so a crash-restart that
  re-runs the batch replaces its own partial output instead of
  appending a duplicate. Readers scan the table root; ``batch_id``
  surfaces as an ordinary partition column (and date partitioning
  nests inside it, so time-range pruning still works). A
  transactional format (Delta/Iceberg) makes this implicit; this is
  the portable equivalent.

The document funnels below (incremental dedup, curation, substring
trim) keep the history they probe in a snapshot table
(sources/snapshots.snapshot_append_writer: marker-last atomic commits
with a batch_id replay guard) and read it as of the newest commit
before the running batch (read_table_before_batch). Their per-batch
audits (classification, rejected, trimmed) are plain batchId-keyed
partition overwrites that nothing reads back as history.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..functions.materialize import cached
from ..functions.rank import first_per_key
from ..operators.flatten import (
    derive_players,
    extract_fixtures,
    extract_leagues,
    extract_team_statistics,
    extract_teams,
    flatten_head_to_head,
    flatten_lineups,
    flatten_odds,
)
from ..operators.upsert import insert_if_absent, upsert_replace
from ..sources.ingest import COLLECTION_SCHEMA, with_collected_ts
from ..sources.sinks import rewrite_table, write_silver

DEFAULT_TRIGGER = "30 minutes"  # yml:8 — the reference's cron cadence


def stream_collections(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2 as a stream: the bronze file source with the declared
    schema (new JSON documents appear under ``path``; schema-on-read
    never infers). Timestamp normalization is shared with the batch
    reader (ingest.with_collected_ts) so the paths cannot drift."""
    df = (
        spark.readStream.schema(COLLECTION_SCHEMA)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 1000)
        .json(path)
    )
    return with_collected_ts(df)


def _merge_dim(
    delta: DataFrame,
    path: str,
    keys: list[str],
    order_cols: list[str],
    merge: Callable[..., DataFrame],
) -> None:
    """Merge a dim delta into its Parquet table with ``merge``: U1
    ``upsert_replace`` or U3 ``insert_if_absent``. The first batch
    writes the delta as the table."""

    def merged(base: DataFrame | None) -> DataFrame:
        return delta if base is None else merge(base, delta, keys=keys, order_cols=order_cols)

    rewrite_table(delta.sparkSession, path, merged)


def silver_batch_writer(silver_root: str) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body: one micro-batch of bronze documents →
    the 8-table fan-out, reusing the oracle-checked batch flatteners.

    Write order mirrors the reference's dims-before-facts sequence
    (database_integration.py:85-113) so a reader joining facts to
    dims mid-batch sees at worst a missing fact, never a dangling FK.
    """

    def write_fact(df: DataFrame, path: str, batch_id: int, ts_col: str) -> None:
        # idempotent fact write: this batch's rows live under their
        # own batch_id partition and a re-run overwrites exactly it
        write_silver(
            df, f"{path}/batch_id={batch_id}", ts_col=ts_col, mode="overwrite"
        )

    def write_batch(bronze: DataFrame, batch_id: int) -> None:
        with cached(bronze) as bronze:  # consumed by 8 flatteners
            _merge_dim(
                extract_teams(bronze),
                f"{silver_root}/teams",
                keys=["id"],
                order_cols=["updated_at"],
                merge=upsert_replace,
            )
            _merge_dim(
                extract_leagues(bronze),
                f"{silver_root}/leagues",
                keys=["id", "season"],
                order_cols=["created_at"],
                merge=insert_if_absent,
            )
            _merge_dim(
                extract_fixtures(bronze),
                f"{silver_root}/fixtures",
                keys=["id"],
                order_cols=["created_at"],
                merge=insert_if_absent,
            )
            lineups = flatten_lineups(bronze)
            _merge_dim(
                derive_players(lineups),
                f"{silver_root}/players",
                keys=["id"],
                order_cols=["created_at"],
                merge=insert_if_absent,
            )
            write_fact(flatten_odds(bronze), f"{silver_root}/odds_history", batch_id, "collected_at")
            write_fact(
                extract_team_statistics(bronze),
                f"{silver_root}/team_statistics",
                batch_id,
                "created_at",
            )
            write_fact(
                flatten_head_to_head(bronze),
                f"{silver_root}/head_to_head",
                batch_id,
                "created_at",
            )
            write_fact(lineups, f"{silver_root}/lineups", batch_id, "collected_at")

    return write_batch


def start_pipeline(
    spark: SparkSession,
    source_path: str,
    silver_root: str,
    checkpoint: str,
    trigger: str | None = DEFAULT_TRIGGER,
):
    """Wire and start the T1 stream. ``trigger=None`` → availableNow
    (drain everything, then stop — tests and backfills); a duration
    string → ProcessingTime micro-batches at that cadence (the
    reference's 30-minute cron)."""
    writer = (
        stream_collections(spark, source_path)
        .writeStream.foreachBatch(silver_batch_writer(silver_root))
        .option("checkpointLocation", checkpoint)
    )
    if trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def dedup_stream(events: DataFrame, id_cols: list[str], ts_col: str = "ts",
                 watermark: str = "45 minutes") -> DataFrame:
    """Streaming exact dedup: keep the first arrival per id, with
    state bounded by the watermark — the streaming form of the batch
    dedup family (operators/dedup.py) and of the job queue's
    anti-join merge (jobs.py merge_jobs).

    ``dropDuplicatesWithinWatermark`` evicts seen-id state once the
    watermark passes, so memory is bounded by the late-data window
    (the same 45-minute rule as job expiry, yml:420-424) instead of
    the whole stream history — mandatory at 100 TB/day. Batch inputs
    fall back to plain dropDuplicates (same result set for in-window
    duplicates; batch has no state to bound).
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(id_cols)
    return events.dropDuplicates(id_cols)


@contextmanager
def collapsed_batch(batch: DataFrame) -> Iterator[DataFrame]:
    """The within-batch collapse every document funnel runs before its
    history probe: EXACT copies by canonical fingerprint (min doc_id
    wins), then NEAR copies by the same minhash-band + Jaccard-verify
    + min-per-component pass the batch path uses
    (dedup.batch_near_dup_drops) — so two copies of a document
    arriving in one micro-batch cannot both be accepted, whether or
    not they are byte-identical. The near pass runs over one
    micro-batch, so its component loop is bounded by arrival rate,
    not corpus size.

    Yields the collapsed rows, cached. Both cached frames are
    released on exit, also when the body raises, so a failed batch
    leaves nothing pinned in the session."""
    from pyspark.sql import functions as F

    from ..operators.dedup import batch_near_dup_drops, fingerprint

    # cache the exact-collapsed batch BEFORE the near-dup pass: its
    # lineage (fingerprint projection + the __fp window shuffle) is
    # otherwise re-evaluated ~3× — both sides of the near pass's band
    # self-join plus the outer anti-join below
    fps = batch.withColumn("__fp", fingerprint(F.col("text")))
    with cached(first_per_key(fps, ["__fp"], ["doc_id"]).drop("__fp")) as collapsed:
        with cached(
            collapsed.join(batch_near_dup_drops(collapsed), "doc_id", "left_anti")
        ) as rows:
            yield rows


def dedup_snapshot_writer(
    corpus_root: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for a DOCUMENT stream: classify each
    micro-batch against the accumulated accepted corpus
    (operators.dedup.dedup_against_corpus — exact fingerprint probe,
    then banded near probe), persist the classification, and append
    only unique documents to the corpus. The streaming form of
    incremental dedup: history grows batch by batch and is probed,
    never re-paired with itself. Within-batch copies collapse first
    (collapsed_batch).

    Layout: the accepted corpus is a snapshot table
    (``{root}/accepted_log`` + ``{root}/accepted_data``,
    sources/snapshots.snapshot_append_writer; read it with
    read_corpus_snapshot), the classification a plain batchId-keyed
    audit partition ``{root}/classification/batch_id=N``.

    Exactly-once: the probe reads the corpus as of the newest commit
    BEFORE this batch (snapshots.read_table_before_batch), so a
    crash-restart re-running batch N never sees its own commit as
    history (which would classify the whole batch as duplicate of
    itself); the classification overwrite recomputes identically
    from the batch; the accepted append is a marker-last atomic
    commit that a replay after the marker skips. The corpus history
    gets time travel and maintain() compaction from the log."""
    from ..sources.snapshots import (
        read_table_before_batch,
        snapshot_append_writer,
    )

    acc_write = snapshot_append_writer(
        f"{corpus_root}/accepted_log", f"{corpus_root}/accepted_data", []
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..operators.dedup import dedup_against_corpus

        spark = batch.sparkSession
        cls_path = f"{corpus_root}/classification/batch_id={batch_id}"
        with collapsed_batch(batch) as rows:
            history = read_table_before_batch(
                spark, f"{corpus_root}/accepted_log", batch_id
            )
            if history is None:
                history = spark.createDataFrame([], rows.schema)
            dedup_against_corpus(rows, history).write.mode(
                "overwrite"
            ).parquet(cls_path)
            unique = (
                spark.read.parquet(cls_path)
                .filter(F.col("dup_kind") == "unique")
                .select("doc_id")
            )
            acc_write(rows.join(unique, "doc_id"), batch_id)

    return write_batch


def read_corpus_snapshot(spark: SparkSession, corpus_root: str) -> DataFrame:
    """The accepted corpus of a dedup_snapshot_writer funnel: the
    latest committed snapshot (every version before it remains one
    read_snapshot(version) away)."""
    from ..sources.snapshots import read_snapshot

    return read_snapshot(spark, f"{corpus_root}/accepted_log")


def curation_batch_writer(
    corpus_root: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for the FULL curation funnel — the
    streaming form of the batch cleaning pass (prep.corpus_clean),
    run stage by stage per micro-batch:

    1. quality gate: ``quality.classify_quality``; rejects land in
       ``{root}/rejected/batch_id=N`` with their score (audit trail —
       a corpus release must account for what it dropped, not just
       what it kept);
    2. PII redaction: ``redact.redact_pii`` rewrites survivor text
       in place (emails before phones; pure projection);
    3. incremental dedup against the accepted corpus — the
       dedup_snapshot_writer stage itself, so the accepted corpus is
       that funnel's snapshot table (read it with
       read_corpus_snapshot).

    Exactly-once: the rejected audit is a batchId-keyed partition
    overwrite and the dedup stage carries dedup_snapshot_writer's
    argument — a crash between ANY two stage writes replays to the
    identical state because each stage recomputes from the
    (deterministic) batch input, not from the partial outputs.
    """
    from pyspark.sql import functions as F

    from ..operators.quality import classify_quality
    from ..operators.redact import redact_pii

    dedup = dedup_snapshot_writer(corpus_root)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        scored = classify_quality(batch).select("doc_id", "score", "keep")
        batch = batch.join(scored, "doc_id", "left")
        # docs with no tokens never reach the classifier: reject them
        # too (keep NULL → false), with a NULL score
        batch.filter(~F.coalesce(F.col("keep"), F.lit(False))).select(
            "doc_id", "lang", "source", "score"
        ).write.mode("overwrite").parquet(
            f"{corpus_root}/rejected/batch_id={batch_id}"
        )
        survivors = batch.filter(
            F.coalesce(F.col("keep"), F.lit(False))
        ).drop("score", "keep")
        redacted = redact_pii(survivors).join(
            survivors.drop("text", "lang", "source"), "doc_id"
        )
        cleaned = redacted.select(
            "doc_id",
            F.col("redacted_text").alias("text"),
            "lang",
            "source",
            *[
                c
                for c in survivors.columns
                if c not in ("doc_id", "text", "lang", "source", "n_chars")
            ],
        )
        if "n_chars" in survivors.columns:
            # redaction changes the text; keep the metadata honest
            cleaned = cleaned.withColumn("n_chars", F.length("text").cast("long"))
        dedup(cleaned, batch_id)

    return write_batch


def start_dedup_pipeline(
    spark: SparkSession,
    source_path: str,
    corpus_root: str,
    checkpoint: str,
    trigger: str | None = None,
):
    """Wire the streaming incremental-dedup ingest: a parquet file
    source of documents → per-micro-batch classification against the
    accumulated accepted corpus (dedup_snapshot_writer; read the
    corpus with read_corpus_snapshot). ``trigger=None`` →
    availableNow."""
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
        .writeStream.foreachBatch(dedup_snapshot_writer(corpus_root))
        .option("checkpointLocation", checkpoint)
    )
    if trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def substring_trim_snapshot_writer(
    corpus_root: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for streaming EXACT-SUBSTRING dedup — the
    micro-batch form of operators.substring.strip_dup_spans: every
    ≥ k-word run a new document shares with the ACCEPTED HISTORY (or
    with a smaller-id doc in the same batch) is cut before the doc
    lands, preserving the corpus-wide one-canonical-occurrence
    invariant batch strip gives a static corpus.

    Per micro-batch:

    1. within-batch foreign offsets — the batch's own gram index,
       min-doc_id owner rule (identical to the batch strip);
    2. history foreign offsets — batch gram offsets whose gram exists
       in the gram index (history always owns what it holds; offsets
       only, the history TEXT is never read);
    3. the union merges to cut spans (substring.apply_cuts) →
       trimmed docs land in ``{root}/trimmed/batch_id=N``;
    4. the TRIMMED text's grams (what actually survived — indexing
       pre-trim grams would let a cut run evict future copies of
       text nobody carries anymore) append to the gram index.

    Layout: the gram index is a snapshot table (``{root}/gram_log`` +
    ``{root}/gram_data``, sources/snapshots.snapshot_append_writer);
    trimmed docs are plain batchId-keyed audit partitions.

    Exactly-once: the history probe reads the index as of the newest
    commit before this batch (snapshots.read_table_before_batch) — a
    crash-restart re-running batch N never sees its own gram commit
    (which would cut every one of its runs as 'already seen'); the
    trimmed overwrite recomputes identically and the gram append is a
    marker-last commit a replay after the marker skips.

    Scale shape: the history index is probed by ONE gram-keyed semi
    join per batch (combine-reduced distinct grams on the history
    side); nothing re-pairs history with itself and the per-batch
    cost is bounded by arrival rate × history-index lookup, the same
    asymptote as the incremental doc-level dedup.
    """
    from ..sources.snapshots import (
        read_table_before_batch,
        snapshot_append_writer,
    )

    gram_w = snapshot_append_writer(
        f"{corpus_root}/gram_log", f"{corpus_root}/gram_data", []
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..operators.substring import (
            MIN_MATCH_WORDS,
            _doc_grams,
            _merge_offsets,
            apply_cuts,
            foreign_offsets,
        )

        spark = batch.sparkSession
        k = MIN_MATCH_WORDS
        # collapse same-id re-collections first (deterministically: min
        # text wins) — duplicate doc_ids would fan out the metadata
        # re-attach join and defeat the within-batch owner rule
        # (countDistinct(doc_id) = 1 across copies of one id)
        batch = first_per_key(batch, ["doc_id"], ["text"])
        trimmed_path = f"{corpus_root}/trimmed/batch_id={batch_id}"
        with cached(_doc_grams(batch, k)) as grams:
            within = foreign_offsets(grams)
            hist = read_table_before_batch(
                spark, f"{corpus_root}/gram_log", batch_id
            )
            if hist is not None:
                against_hist = grams.join(
                    hist.select("g").distinct(), "g", "left_semi"
                ).select("doc_id", "pos")
            else:
                against_hist = within.limit(0)
            foreign = within.unionByName(against_hist).dropDuplicates(
                ["doc_id", "pos"]
            )
            trimmed = apply_cuts(batch, _merge_offsets(foreign, k)).join(
                batch.drop("text"), "doc_id"
            )
            # keep text-derived metadata honest after the cut (the same
            # convention curation_batch_writer follows post-redaction)
            if "n_chars" in trimmed.columns:
                trimmed = trimmed.withColumn(
                    "n_chars", F.length("text").cast("long")
                )
            trimmed.write.mode("overwrite").parquet(trimmed_path)
            gram_w(
                _doc_grams(spark.read.parquet(trimmed_path), k)
                .select("g")
                .distinct(),
                batch_id,
            )

    return write_batch
