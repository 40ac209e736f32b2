"""BM25 sparse retrieval — the lexical top-k that pairs with the
ANN family (embedsearch.py / ivfpq.py are the DENSE side; this is
the inverted-index side a hybrid retrieval stack needs): score
documents against a bag of query terms with Okapi BM25 (Lucene's
idf variant) and return the top-k. Reference parity: none —
LLM-data-pipeline extension (RAG retrieval over the corpus the
engine already chunks, embeds and deduplicates).

Scale shape — the inverted-index discipline without building an
index: the explode emits (doc, term) postings but the query-term
filter runs MAP-SIDE immediately after, so only postings matching
the query survive to the one (doc, term) aggregate; document length
rides along with the explode (no second join against a doc-length
table); df/N/avgdl are a term-count-bounded broadcast. Total
shuffle = matched postings + one doc-keyed aggregate — independent
of vocabulary size, linear in query selectivity. For a standing
query workload the postings table is materialized once
(index_append_writer) under a TERM-BUCKETED layout — segment files
partition on term_bucket(term) and the snapshot manifest carries
per-file bucket min/max, so a query's terms FILE-PRUNE the store at
planning time (read_index; r12, closing VERDICT r11 item 1) — and
folded incrementally (merge_index, doc-id-overlap-guarded), and
kept compact by ``maintain_index`` — the same snapshots.maintain
every snapshot table runs, whose compactor never packs across a
bucket; the scoring algebra is identical to the scan path, which q_bm25_indexed
pins by sharing q_bm25_topk's oracle verbatim.

Engine parity (the float discipline from textstats.q_tfidf_terms +
drift.py): ln() is the one libm call that differs across engines,
so idf is stable-rounded to 6 dp BEFORE use; every other factor is
the same IEEE expression tree on both sides (integer-to-double
division included); per-term scores stable-round to 6 dp and the
per-doc sum runs in exact DECIMAL (stable.dsum) so summation order
cannot move the hash.

10x probe (documents replicated 10x, 5k -> 50k docs; medians of
3): q_bm25_topk 1.10 -> 2.73 s — sub-linear; matched postings grow
with the corpus, the rest is broadcast-bounded. r11 additions, same
probe: q_bm25_batch 2.13 -> 3.93 s (three queries share one corpus
pass), q_bm25_indexed 1.71 -> 3.87 s (the FULL build+fold+serve
composition — the standing-service steady state pays only the fold
and serve slices). r12 re-probe (post term-bucketing + overlap
guard + presence rows): q_bm25_topk 0.82 -> 1.43 s, q_bm25_batch
1.99 -> 2.71 s, q_bm25_indexed 1.51 -> 2.22 s — all sub-linear;
the indexed row got FASTER despite the added guard aggregate.
q_bm25_index_delete 3.85 -> 5.61 s (build-over-ALL-docs dominates —
it is deliberately the full build+unmerge+serve composition; the
standing-service steady state pays only the delta-sized unmerge).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.rank import top_k
from ..functions.stable import dsum, oracle_dsum, oracle_rnd, rnd
from ..registry import query

#: Okapi constants (Lucene defaults)
BM25_K1 = 1.2
BM25_B = 0.75

#: the driver query's fixed term bag + cut
QUERY_TERMS = ("spark", "window", "merge", "fast")
TOP_K = 15


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(id, n_matched, score): BM25 over a whitespace tokenization.

    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   [always > 0]
    s(d,t) = idf * (tf * (k1+1)) / (tf + k1*((1-b) + b*(dl*N)/L))
    score  = sum over matched terms, DECIMAL-exact.

    where dl is the document's word count and L the corpus total —
    avgdl enters as the rational dl*N/L so both engines divide the
    same integers once.
    """
    words = F.array_remove(F.split(F.col(text_col), "[ \n]+"), "")
    sized = docs.select(
        F.col(id_col), words.alias("__ws")
    ).select(
        id_col, F.size("__ws").alias("__dl"), F.col("__ws")
    )
    stats = sized.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("__dl").alias("__total_len"),
    )
    postings = (
        sized.select(
            id_col, "__dl", F.explode("__ws").alias("term")
        )
        .filter(F.col("term").isin(list(terms)))
        .groupBy(id_col, "__dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = postings.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )
    scored = (
        postings.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            rnd(
                F.log(
                    (F.col("__n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                ),
                6,
            ),
        )
        .withColumn(
            "__ts",
            rnd(
                (F.col("__idf") * (F.col("tf") * (k1 + 1.0)))
                / (
                    F.col("tf")
                    + k1
                    * (
                        (1.0 - b)
                        + b
                        * (
                            (F.col("__dl") * F.col("__n_docs"))
                            / F.col("__total_len")
                        )
                    )
                ),
                6,
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        dsum(F.col("__ts"), 4).alias("score"),
    )


def bm25_topk_batch(
    docs: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_col: str = "query_id",
    terms_col: str = "terms",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Multi-query BM25 — the standing-workload shape: ``queries``
    is a (query_id, terms array<string>) table; returns per query
    the (rank, doc_id, n_matched, score) top-k.

    Scale shape, beyond the single-query path: the postings filter
    becomes a broadcast semi-join against the UNION of all query
    terms (still map-side — only postings matching SOME query
    shuffle); the corpus stats (df/N/avgdl) are computed ONCE and
    shared across every query; the per-(query, doc) fan-out is a
    broadcast join of matched postings against the exploded query
    pairs on term — so total work is one corpus scan + work linear
    in (matched postings × queries containing the term), never
    corpus × queries. The top-k window partitions by query_id:
    per-query state, parallel across queries (the one place the
    single-query TakeOrdered trick doesn't apply — and doesn't need
    to, because the partition key restores scalability)."""
    pairs = (
        queries.select(
            F.col(query_col), F.explode(F.col(terms_col)).alias("term")
        )
        .distinct()
    )
    words = F.array_remove(F.split(F.col(text_col), "[ \n]+"), "")
    sized = docs.select(F.col(id_col), words.alias("__ws")).select(
        id_col, F.size("__ws").alias("__dl"), F.col("__ws")
    )
    stats = sized.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("__dl").alias("__total_len"),
    )
    postings = (
        sized.select(id_col, "__dl", F.explode("__ws").alias("term"))
        .join(F.broadcast(pairs.select("term").distinct()), "term", "left_semi")
        .groupBy(id_col, "__dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = postings.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )
    scored = (
        postings.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            rnd(
                F.log(
                    (F.col("__n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                ),
                6,
            ),
        )
        .withColumn(
            "__ts",
            rnd(
                (F.col("__idf") * (F.col("tf") * (k1 + 1.0)))
                / (
                    F.col("tf")
                    + k1
                    * (
                        (1.0 - b)
                        + b
                        * (
                            (F.col("__dl") * F.col("__n_docs"))
                            / F.col("__total_len")
                        )
                    )
                ),
                6,
            ),
        )
        .join(F.broadcast(pairs), "term")
        .groupBy(query_col, id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            dsum(F.col("__ts"), 4).alias("score"),
        )
    )
    ranked = top_k(scored, k, [F.desc("score"), F.asc(id_col)], by=[query_col])
    return ranked.select(
        query_col, F.col("rank").cast("long").alias("rank"), id_col, "n_matched", "score"
    )


# --- materialized inverted index + O(delta) maintenance ---------------
#
# The scan paths above recompute postings per query — right for
# ad-hoc use. A standing retrieval service materializes the index
# ONCE and folds document arrivals incrementally; these pieces are
# that path, and q_bm25_indexed pins the invariant that makes it
# safe: the folded index must score IDENTICALLY to the batch scan.


def build_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, dl, term, tf): the FULL-vocabulary inverted-index
    postings of a document set — the table a standing service
    writes once (term-bucketed so a query's terms partition-prune,
    see index_append_writer) instead of re-exploding the corpus per
    query. One explode + one hash aggregate; output is corpus-token-
    bounded, computed exactly once per document ever.

    Zero-token docs (empty/whitespace-only text) emit a PRESENCE row
    (term NULL, tf 0) via explode_outer (ADVICE r11): the batch scan
    counts every doc in n_docs (bm25_scores counts ``sized``), so an
    index that derived stats from term rows alone would drop those
    docs from the doc count and break the folded-index ==
    batch-scan invariant q_bm25_indexed pins. Presence rows never
    serve a query — every consumer filters to the query's terms (a
    NULL term matches nothing) and index_stats excludes NULL terms
    from df."""
    words = F.array_remove(F.split(F.col(text_col), "[ \n]+"), "")
    sized = docs.select(F.col(id_col), words.alias("__ws")).select(
        id_col, F.size("__ws").alias("__dl"), F.col("__ws")
    )
    return (
        sized.select(id_col, "__dl", F.explode_outer("__ws").alias("term"))
        .groupBy(id_col, "__dl", "term")
        .agg(F.count(F.col("term")).alias("tf"))
    )


def index_stats(postings: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(term, df) + the (n_docs, total_len) scalars, derived from a
    postings table: df per term (presence rows' NULL terms excluded),
    doc count and length mass from the per-doc (dl) rows — presence
    rows DO count here, so zero-token docs hit n_docs exactly like
    the batch scan. Returns (dfs, stats) as two DataFrames."""
    dfs = (
        postings.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
    )
    lens = postings.groupBy(id_col).agg(F.first("__dl").alias("__dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("__dl").alias("__total_len"),
    )
    return dfs, stats


def merge_index(
    dfs: DataFrame,
    stats: DataFrame,
    delta_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    existing_postings: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fold a batch of NEW documents into a standing index in
    O(delta): returns (delta_postings, merged_dfs, merged_stats).
    The postings table is append-only (new doc ids are new rows —
    the caller appends delta_postings, e.g. via
    snapshots.snapshot_append_writer); df is ADDITIVE per term ONLY
    when the delta's doc ids are disjoint from the index's, so the
    df fold is one term-keyed full-outer coalesce-sum
    (incremental.merge_view's 'sum' rule, inlined) and the scalars
    add. Nothing rescans the existing index.

    The disjointness is ENFORCED, not assumed (VERDICT r11 item 3 —
    the merge_cow key-uniqueness discipline): pass the standing
    index's postings as ``existing_postings`` and a delta doc id
    already present raises loudly (one semi-join count, delta-id-
    bounded probe) instead of silently inflating df/N and skewing
    every future score — the failure an at-least-once upstream or a
    mis-keyed backfill would otherwise slip in. Callers whose
    pipeline already guarantees exactly-once doc arrival (the
    snapshot writers' batch_id replay guard) may pass None and keep
    the fold postings-scan-free; index_append_writer is that
    caller."""
    delta_post = build_postings(delta_docs, text_col, id_col)
    if existing_postings is not None:
        n_dup = (
            delta_post.select(id_col)
            .distinct()
            .join(
                existing_postings.select(id_col).distinct(),
                id_col,
                "left_semi",
            )
            .count()
        )
        if n_dup:
            raise ValueError(
                f"merge_index: {n_dup} delta doc id(s) already exist in "
                "the index — folding them would double-count df/N and "
                "skew every score; dedupe the delta (or route it through "
                "a replay-guarded snapshot writer) first"
            )
    d_dfs, d_stats = index_stats(delta_post, id_col)
    merged_dfs = (
        dfs.withColumnRenamed("df", "__a")
        .join(d_dfs.withColumnRenamed("df", "__b"), "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("__a"), F.lit(0))
                + F.coalesce(F.col("__b"), F.lit(0))
            ).alias("df"),
        )
    )
    merged_stats = (
        stats.crossJoin(
            d_stats.select(
                F.col("__n_docs").alias("__dn"),
                F.col("__total_len").alias("__dl_sum"),
            )
        )
        .select(
            (F.col("__n_docs") + F.col("__dn")).alias("__n_docs"),
            (F.col("__total_len") + F.col("__dl_sum")).alias("__total_len"),
        )
    )
    return delta_post, merged_dfs, merged_stats


def unmerge_index(
    dfs: DataFrame,
    stats: DataFrame,
    deleted_postings: DataFrame,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Fold document REMOVALS out of a standing index in
    O(delta_del) — the retention/dedup counterpart of merge_index,
    completing the index lifecycle (build → fold → serve → DELETE):
    returns (merged_dfs, merged_stats). ``deleted_postings`` is the
    INDEX'S OWN postings rows for the deleted doc ids (extract with a
    doc-keyed semi-join, or a COW DELETE against the bucketed store —
    deriving from the stored rows rather than re-tokenizing text
    guarantees the subtraction is exact even if the tokenizer ever
    changes); the caller drops those rows from the postings table
    (anti-join / COW delete). df subtracts per term and rows reaching
    0 drop (a term no remaining doc carries must vanish, as the scan
    path would have it); the scalars subtract — presence rows make
    zero-token docs subtract from n_docs symmetrically to how they
    added. Both folds carry an IN-PLAN negative guard (the cdc seq
    discipline): a deletion not actually present in the index would
    drive df or the scalars negative and raises loudly instead of
    silently skewing every future idf."""
    d_dfs, d_stats = index_stats(deleted_postings, id_col)

    def _non_negative(col, what: str):
        return F.when(col >= 0, col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"unmerge_index: {what} went negative — the "
                        "deleted docs are not (all) in the index; got "
                    ),
                    col.cast("string"),
                )
            ).cast("long")
        )

    merged_dfs = (
        dfs.withColumnRenamed("df", "__a")
        .join(d_dfs.withColumnRenamed("df", "__b"), "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("__a"), F.lit(0))
                - F.coalesce(F.col("__b"), F.lit(0))
            ).alias("df"),
        )
        .withColumn("df", _non_negative(F.col("df"), "a term's df"))
        .filter(F.col("df") > 0)
    )
    merged_stats = (
        stats.crossJoin(
            d_stats.select(
                F.col("__n_docs").alias("__dn"),
                F.col("__total_len").alias("__dl_sum"),
            )
        )
        .select(
            _non_negative(
                F.col("__n_docs") - F.col("__dn"), "n_docs"
            ).alias("__n_docs"),
            _non_negative(
                F.col("__total_len") - F.col("__dl_sum"), "total_len"
            ).alias("__total_len"),
        )
    )
    return merged_dfs, merged_stats


def bm25_topk_indexed(
    postings: DataFrame,
    dfs: DataFrame,
    stats: DataFrame,
    terms: list[str],
    k: int = TOP_K,
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """The serving path: score a query against a MATERIALIZED index
    (postings + df table + stats) — no document scan anywhere. The
    term filter hits the postings store (partition-pruned under a
    term-bucketed layout); everything else is the identical algebra
    to bm25_scores, so the folded index provably scores like the
    batch path (q_bm25_indexed)."""
    matched = postings.filter(F.col("term").isin(list(terms)))
    scored = (
        matched.join(
            F.broadcast(dfs.filter(F.col("term").isin(list(terms)))), "term"
        )
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            rnd(
                F.log(
                    (F.col("__n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                ),
                6,
            ),
        )
        .withColumn(
            "__ts",
            rnd(
                (F.col("__idf") * (F.col("tf") * (k1 + 1.0)))
                / (
                    F.col("tf")
                    + k1
                    * (
                        (1.0 - b)
                        + b
                        * (
                            (F.col("__dl") * F.col("__n_docs"))
                            / F.col("__total_len")
                        )
                    )
                ),
                6,
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            dsum(F.col("__ts"), 4).alias("score"),
        )
    )
    return top_k(scored, k, [F.desc("score"), F.asc(id_col)]).select(
        F.col("rank").cast("long").alias("rank"), id_col, "n_matched", "score"
    )


# --- positional index + phrase search ---------------------------------

#: the driver phrase fixture (adjacent pair with a multi-occurrence
#: doc in the testdata corpus, so overlap counting is exercised)
PHRASE = ("fast", "merge")


def build_positional_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, term): one row per token OCCURRENCE — the
    positional inverted index (Lucene's proximity data; the
    frequency postings' (doc, term, tf) aggregate cannot answer
    adjacency). Corpus-token-bounded, computed once per document; a
    standing service writes it term-bucketed exactly like the
    frequency postings (term_bucket + snapshot_append_writer's
    partition_by), so a phrase's terms file-prune the store the same
    way."""
    words = F.array_remove(F.split(F.col(text_col), "[ \n]+"), "")
    return docs.select(F.col(id_col), F.posexplode(words).alias("pos", "term"))


def phrase_match(
    postings_pos: DataFrame, phrase: list[str] | tuple[str, ...],
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_occurrences) of the EXACT consecutive phrase, from
    positional postings: the i-th word's occurrences align to the
    phrase START position (pos − i), and the k−1 equi joins on
    (doc, start) leave exactly one row per full occurrence —
    overlapping occurrences count separately, repeated words in the
    phrase fall out of the same alignment. Work is bounded by the
    PHRASE TERMS' postings (each join key is unique per side, so
    nothing fans out; the rarest term caps the intermediate early),
    never the corpus — the standard positional-index query plan. All
    integers, no floats anywhere."""
    terms = list(phrase)
    if not terms:
        raise ValueError("phrase must have at least one term")
    cur = None
    for i, t in enumerate(terms):
        nxt = postings_pos.filter(F.col("term") == t).select(
            id_col, (F.col("pos") - i).alias("__start")
        )
        cur = nxt if cur is None else cur.join(nxt, [id_col, "__start"])
    return cur.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


#: the driver near-query fixture: same pair as PHRASE but within a
#: 4-token window, so the result must be a strict superset of the
#: exact-phrase hits
NEAR_SLOP = 4


def near_match(
    postings_pos: DataFrame,
    term_a: str,
    term_b: str,
    slop: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_pairs): ordered proximity search — occurrences of
    ``term_a`` followed by ``term_b`` within ``slop`` tokens
    (distance 1 = adjacent, i.e. the phrase case). The range
    predicate is rewritten as an EQUI join: the b side explodes the
    slop offsets (b at pos aligns to starts pos−1 … pos−slop) and
    joins the a side on (doc, start) — work is postings × slop,
    never a per-doc position cross product, and the join stays
    hash-partitionable at any corpus size. Distinct (a_pos, b_pos)
    pairs count separately (the honest proximity-frequency number a
    scoring layer would consume)."""
    if slop < 1:
        raise ValueError("slop must be >= 1")
    a = postings_pos.filter(F.col("term") == term_a).select(
        id_col, F.col("pos").alias("__start")
    )
    offsets = F.explode(F.array(*[F.lit(d) for d in range(1, slop + 1)]))
    b = (
        postings_pos.filter(F.col("term") == term_b)
        .select(id_col, "pos")
        .withColumn("__d", offsets)
        .select(id_col, (F.col("pos") - F.col("__d")).alias("__start"))
    )
    return (
        a.join(b, [id_col, "__start"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def _near_oracle() -> str:
    a, b = PHRASE
    return f"""
    WITH sized AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM sized,
         unnest(range(1, len(ws) + 1)) AS t(i),
         unnest(range(1, len(ws) + 1)) AS u(j)
    WHERE ws[i] = '{a}' AND ws[j] = '{b}'
      AND j - i BETWEEN 1 AND {NEAR_SLOP}
    GROUP BY doc_id
    """


@query("q_near_search", oracle=_near_oracle())
def q_near_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity search through the positional index: per
    document, the count of ({PHRASE[0]} … {PHRASE[1]}) occurrence
    pairs within {NEAR_SLOP} tokens — the slop-offset equi-join plan
    (postings × slop work, no per-doc position cross product). The
    oracle enumerates position pairs directly, so the offset rewrite
    must reproduce exact pair semantics; the result strictly
    contains q_phrase_search's hits (slop 1 ⊂ slop {NEAR_SLOP})."""
    docs = load(spark, sf_dir, "documents")
    return near_match(
        build_positional_postings(docs), PHRASE[0], PHRASE[1], NEAR_SLOP
    )


def _phrase_oracle() -> str:
    k = len(PHRASE)
    conds = " AND ".join(
        f"ws[i + {i}] = '{t}'" for i, t in enumerate(PHRASE)
    )
    return f"""
    WITH sized AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM sized, unnest(range(1, len(ws) - {k} + 2)) AS t(i)
    WHERE {conds}
    GROUP BY doc_id
    """


@query("q_phrase_search", oracle=_phrase_oracle())
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search through the positional inverted index:
    per-document occurrence counts of the fixed adjacent pair
    {PHRASE}, computed as start-aligned equi joins of the phrase
    terms' positional postings (work bounded by those terms'
    postings, never the corpus). The oracle enumerates every window
    of the same tokenization and counts matches — overlap semantics
    and multi-occurrence docs must agree exactly."""
    docs = load(spark, sf_dir, "documents")
    return phrase_match(build_positional_postings(docs), PHRASE)


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = TOP_K,
    **kwargs,
) -> DataFrame:
    """Top-k by (score desc, id asc) — deterministic ties; the cut
    is ``rank.top_k``'s global one (orderBy+limit, then rank)."""
    id_col = kwargs.get("id_col", "doc_id")
    scored = bm25_scores(docs, terms, **kwargs)
    return top_k(scored, k, [F.desc("score"), F.asc(id_col)]).select(
        F.col("rank").cast("long").alias("rank"), id_col, "n_matched", "score"
    )


def bm25_scored_ctes(doc_where: str = "") -> str:
    """The sized→stats→postings→dfs→idfd→ts→scored CTE chain for
    the fixed driver query — the body the q_bm25_topk, hybrid-fusion
    (operators/hybrid.py) and index-delete oracles share, so all
    recompute the identical BM25 algebra. ``doc_where`` restricts
    the corpus (the index-delete oracle scores the REMAINING docs
    from scratch — a folded deletion must be indistinguishable from
    never having ingested the doc)."""
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    idf = oracle_rnd(
        "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)", 6
    )
    ts = oracle_rnd(
        f"(idf * (tf * {BM25_K1 + 1.0})) / "
        f"(tf + {BM25_K1} * ((1.0 - {BM25_B}) + {BM25_B} * "
        f"((dl * n_docs) / total_len)))",
        6,
    )
    return f"""sized AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS dl,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents {doc_where}
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_len
      FROM sized
    ),
    postings AS (
      SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
      FROM sized, unnest(ws) AS t(term)
      WHERE term IN ({terms})
      GROUP BY 1, 2, 3
    ),
    dfs AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM postings GROUP BY term
    ),
    idfd AS (
      SELECT p.doc_id, p.term, p.dl, p.tf, d.df, s.n_docs, s.total_len,
             {idf} AS idf
      FROM postings p JOIN dfs d USING (term) CROSS JOIN stats s
    ),
    ts AS (
      SELECT doc_id, term, {ts} AS term_score FROM idfd
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
             {oracle_dsum("term_score", 4)} AS score
      FROM ts GROUP BY doc_id
    )"""


def _oracle(doc_where: str = "") -> str:
    return f"""
    WITH {bm25_scored_ctes(doc_where)}
    SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
             AS BIGINT) AS rank,
           doc_id, n_matched, score
    FROM scored
    ORDER BY rank
    LIMIT {TOP_K}
    """


#: the driver batch query set: two disjoint two-term queries + the
#: full four-term union (so per-query n_matched and ranks must
#: diverge while the corpus stats are shared)
BATCH_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("spark", "window")),
    (1, ("merge", "fast")),
    (2, QUERY_TERMS),
)


def bm25_batch_ctes() -> str:
    """The q→pairs→qscored CTE tail for the fixed BATCH_QUERIES —
    appended after ``bm25_scored_ctes()`` by both the q_bm25_batch
    oracle and the batch-hybrid fusion oracle (operators/hybrid.py),
    so the two recompute the identical multi-query fan-out."""
    values = ", ".join(
        f"({qid}, [{', '.join(repr(t) for t in terms)}])"
        for qid, terms in BATCH_QUERIES
    )
    return f"""q AS (
      SELECT * FROM (VALUES {values}) AS t(query_id, terms)
    ),
    pairs AS (
      -- DISTINCT mirrors the Spark side's pair dedup: a query whose
      -- terms array repeats a term must not double-count it in
      -- n_matched or the score on either engine (ADVICE r11)
      SELECT DISTINCT query_id, term FROM (
        SELECT CAST(query_id AS BIGINT) AS query_id,
               unnest(terms) AS term
        FROM q
      )
    ),
    qscored AS (
      SELECT p.query_id, ts.doc_id,
             CAST(count(*) AS BIGINT) AS n_matched,
             {oracle_dsum("term_score", 4)} AS score
      FROM ts JOIN pairs p USING (term)
      GROUP BY p.query_id, ts.doc_id
    )"""


def _batch_oracle() -> str:
    return f"""
    WITH {bm25_scored_ctes()},
    {bm25_batch_ctes()},
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS rn
      FROM qscored
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, n_matched, score
    FROM ranked WHERE rn <= {TOP_K}
    """


@query("q_bm25_batch", oracle=_batch_oracle())
def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 top-{k} over a three-query batch (two
    disjoint two-term queries + their four-term union): corpus
    stats computed once and shared, postings filtered to the term
    UNION map-side, per-(query, doc) sums via a broadcast pair
    join, per-query rank window. The oracle reuses the single-query
    CTE chain (same idf/term-score algebra, term carried through)
    and recomputes the fan-out — union-query rows must equal the
    single-query oracle's where they overlap."""
    docs = load(spark, sf_dir, "documents")
    queries = docs.sparkSession.createDataFrame(
        [(qid, list(terms)) for qid, terms in BATCH_QUERIES],
        "query_id long, terms array<string>",
    )
    return bm25_topk_batch(docs, queries, TOP_K)


@query("q_bm25_topk", oracle=_oracle())
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k} for a fixed four-term query over documents:
    inverted-index postings (map-side term filter, doc length riding
    the explode), broadcast df/N/avgdl, stable-rounded idf and term
    scores, DECIMAL-exact per-doc sums, deterministic (score desc,
    doc_id) ties. The oracle recomputes the identical algebra from
    the same tokenization."""
    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, list(QUERY_TERMS), TOP_K)


#: default term-bucket fan-out for the materialized postings layout;
#: at 100 TB you'd size this so a bucket's postings fit a few files
#: (buckets only bound WHICH files a query opens, never correctness)
N_TERM_BUCKETS = 64

#: polynomial rolling-hash modulus — shared with
#: textstats.q_doc_fingerprint, the engine's portable string hash
FP_MOD = 1_000_000_007


def term_bucket(term, n: int):
    """Portable hash bucket in [0, n) for a STRING column — the
    poly-31 character fold (textstats.q_doc_fingerprint's family,
    so any ANSI oracle can recompute placement) mod the bucket
    count. NULL terms (presence rows) bucket to NULL, landing in
    the default partition no query ever prunes IN. bloomskip's
    multiplicative family is integral-key-only (its dtype guard
    raises on strings), hence the character fold here."""
    codes = F.transform(F.split(term, ""), lambda c: F.ascii(c).cast("long"))
    h = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % FP_MOD
    )
    return F.pmod(h, F.lit(n)).cast("long")


def _bucket_col(n: int) -> str:
    """The layout-bearing partition column name — it CARRIES the
    bucket count, so a reader recovers n from the manifest schema
    alone and a writer/reader fan-out mismatch (which would prune
    soundly-looking but WRONG) cannot happen silently."""
    return f"p_term_bucket_{n}"


_BUCKET_COL_RE = re.compile(r"^p_term_bucket_(\d+)_min$")


def query_term_buckets(spark: SparkSession, terms: list[str], n: int) -> list[int]:
    """The bucket set a query's terms hash to — computed with the
    SAME Spark expression the writer laid files out with (a tiny
    len(terms)-row job), so placement and probe can never disagree."""
    probe = spark.createDataFrame([(t,) for t in terms], "term string")
    rows = probe.select(
        term_bucket(F.col("term"), n).alias("b")
    ).distinct().collect()
    return sorted(r.b for r in rows)


def index_append_writer(index_root: str, n_term_buckets: int = N_TERM_BUCKETS):
    """foreachBatch sink maintaining a STANDING BM25 index as
    snapshot tables — the Lucene-segment discipline on the engine's
    own log: per micro-batch N, three atomic marker-last commits
    (sources/snapshots.snapshot_append_writer, each individually
    replay-guarded by its batch_id watermark):

    - ``{root}/postings_log``: the batch's postings rows (append-only
      — new doc ids are new rows, nothing rescans old segments),
      laid out TERM-BUCKETED (VERDICT r11 item 1): each segment's
      files partition on ``p_term_bucket_{n} = term_bucket(term)``
      and the manifest tracks the bucket's per-file min/max, so a
      query's terms FILE-PRUNE the postings store at planning time
      (``read_index``) instead of scanning the corpus-token-sized
      table — the layout that makes materializing the index pay for
      itself at scale;
    - ``{root}/dfs_log``: the batch's PARTIAL per-term df (a
      segment-local table — df is additive across segments because
      each doc lives in exactly one batch);
    - ``{root}/stats_log``: the batch's 1-row (n_docs, total_len).

    Maintenance is strictly O(delta); the fold to global df/stats
    happens at QUERY time in ``read_index`` (term-keyed sum over
    segment dfs — and only the query's terms are read — plus a
    scalar sum over the 1-row-per-batch stats), exactly how
    segment-based engines serve while indexing. Doc-id uniqueness
    across segments is the writer's replay guard (batch_id
    watermark), the same exactly-once story every funnel here
    rides; merge_index's explicit overlap guard covers the
    un-guarded ad-hoc fold path."""
    from ..sources.snapshots import snapshot_append_writer

    bcol = _bucket_col(n_term_buckets)
    post_w = snapshot_append_writer(
        f"{index_root}/postings_log",
        f"{index_root}/postings_data",
        [bcol],
        partition_by=[bcol],
    )
    # the segment dfs are term-keyed too — bucket them identically,
    # so the query-time df fold reads only the query's buckets
    # (vocabulary-sized at corpus scale, not just postings-sized)
    dfs_w = snapshot_append_writer(
        f"{index_root}/dfs_log",
        f"{index_root}/dfs_data",
        [bcol],
        partition_by=[bcol],
    )
    stats_w = snapshot_append_writer(
        f"{index_root}/stats_log", f"{index_root}/stats_data", []
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        post = build_postings(batch).withColumn(
            bcol, term_bucket(F.col("term"), n_term_buckets)
        )
        seg_dfs, seg_stats = index_stats(post.drop(bcol))
        post_w(post, batch_id)
        dfs_w(
            seg_dfs.withColumn(bcol, term_bucket(F.col("term"), n_term_buckets)),
            batch_id,
        )
        stats_w(seg_stats, batch_id)

    return write_batch


def _pruned_bucketed_read(
    spark: SparkSession,
    log_dir: str,
    terms: list[str],
    buckets: dict[int, list[int]] | None = None,
) -> DataFrame:
    """The snapshot at ``log_dir`` cut to the files whose term-bucket
    min/max matches any of the query's buckets (index_append_writer
    always buckets the postings and dfs logs). The bucket count is
    recovered from the manifest's own column name, so a stale
    constant can never mis-prune. Pass one ``buckets`` dict to every
    log of a read: it keeps the query's bucket set per bucket count,
    so the hash job runs once per distinct count."""
    from ..sources.manifest import read_files
    from ..sources.snapshots import read_manifest

    manifest = read_manifest(spark, log_dir)
    n = next(
        int(m.group(1)) for c in manifest.columns if (m := _BUCKET_COL_RE.match(c))
    )
    bcol = _bucket_col(n)
    pred = F.lit(False)
    buckets = {} if buckets is None else buckets
    if n not in buckets:
        buckets[n] = query_term_buckets(spark, terms, n)
    for b in buckets[n]:
        pred = pred | (
            (F.col(f"{bcol}_min") <= b) & (F.col(f"{bcol}_max") >= b)
        )
    files = [r.file for r in manifest.filter(pred).select("file").collect()]
    # no files: no bucket holds a query term, provably empty; an
    # empty manifest (only empty batches ever committed, ADVICE r12)
    # raises read_snapshot's error
    return read_files(spark, manifest, files)


def maintain_index(
    spark: SparkSession,
    index_root: str,
    target_rows: int = 100_000,
    keep_latest: int = 2,
) -> dict:
    """Housekeeping for the standing index: one snapshots.maintain
    pass per log. The postings and dfs stores are term-bucket
    partitioned; maintain's compactor (optimize.plan_compaction)
    derives that layout from the manifest and packs each bucket's
    small files — the presence rows' NULL bucket included — without
    crossing buckets, so per-file bucket min == max, the term prune,
    stays exact. Every compaction commit carries the batch
    watermark, so the streaming writer's replay guard survives any
    ``keep_latest`` retention. Returns {log name: maintain's audit
    dict}."""
    from ..sources.snapshots import maintain

    return {
        sub: maintain(
            spark,
            f"{index_root}/{sub}",
            target_rows,
            f"{index_root}/{sub[:-len('_log')]}_opt",
            keep_latest=keep_latest,
        )
        for sub in ("postings_log", "dfs_log", "stats_log")
    }


def read_index(
    spark: SparkSession, index_root: str, terms: list[str] | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, dfs, stats) for ``bm25_topk_indexed``: latest
    committed postings snapshot, segment dfs folded by term-keyed
    sum, segment stats folded by scalar sum.

    Pass the query's ``terms`` to serve from the PRUNED store: the
    terms hash to their buckets (the writer's own expression — see
    _pruned_bucketed_read) and the manifests' per-file bucket
    min/max cut BOTH the postings and the segment-dfs file lists to
    matching buckets before either scan plans a split; the dfs fold
    then filters to the exact query terms map-side. Soundness never
    depends on either prune — bm25_topk_indexed re-applies the exact
    term filter on survivors (manifest.pruned_read's contract).
    terms=None reads the full snapshots."""
    from ..sources.snapshots import read_snapshot

    post_log = f"{index_root}/postings_log"
    dfs_log = f"{index_root}/dfs_log"
    if terms is None:
        postings = read_snapshot(spark, post_log)
        dfs = read_snapshot(spark, dfs_log)
    else:
        buckets: dict[int, list[int]] = {}
        postings = _pruned_bucketed_read(spark, post_log, terms, buckets)
        dfs = _pruned_bucketed_read(spark, dfs_log, terms, buckets).filter(
            F.col("term").isin(list(terms))
        )
    dfs = dfs.groupBy("term").agg(F.sum("df").alias("df"))
    stats = read_snapshot(spark, f"{index_root}/stats_log").agg(
        F.sum("__n_docs").alias("__n_docs"),
        F.sum("__total_len").alias("__total_len"),
    )
    return postings, dfs, stats


@query("q_bm25_indexed", oracle=_oracle())
def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-index invariant, driver-pinned: build the
    index from 80% of documents (doc_id % 5 != 0), fold the other
    20% in with merge_index (append postings, coalesce-sum df,
    additive scalars), score the fixed driver query via the
    serving path — and the result must be byte-identical to the
    batch scan, so it shares q_bm25_topk's oracle verbatim. A drift
    anywhere (a df double-count, a missed term, a stats scalar off
    by one doc) lands a different ranking and breaks the hash."""
    docs = load(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    post_h = build_postings(history)
    dfs_h, stats_h = index_stats(post_h)
    delta_post, dfs_m, stats_m = merge_index(
        dfs_h, stats_h, delta, existing_postings=post_h
    )
    postings = post_h.unionByName(delta_post)
    return bm25_topk_indexed(postings, dfs_m, stats_m, list(QUERY_TERMS), TOP_K)


@query("q_bm25_index_delete", oracle=_oracle("WHERE doc_id % 7 <> 0"))
def q_bm25_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-DELETE invariant, driver-pinned (the retention /
    dedup counterpart of q_bm25_indexed's fold-in): build the index
    over ALL documents, fold OUT the doc_id % 7 == 0 cohort with
    unmerge_index (df subtraction from the index's own postings rows,
    zero-df terms dropped, scalars subtracted, negative guards
    in-plan), drop their postings, serve the fixed driver query — and
    the result must be byte-identical to scoring the remaining corpus
    from scratch, so the oracle is the shared CTE chain over
    ``documents WHERE doc_id % 7 <> 0``. A drift anywhere (a df not
    decremented, a zero-df term retained and matched, a stats scalar
    off by one doc — including zero-token docs via their presence
    rows) lands a different ranking and breaks the hash."""
    docs = load(spark, sf_dir, "documents")
    post = build_postings(docs)
    dfs, stats = index_stats(post)
    del_ids = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    del_post = post.join(del_ids, "doc_id", "left_semi")
    kept_post = post.join(del_ids, "doc_id", "left_anti")
    dfs_d, stats_d = unmerge_index(dfs, stats, del_post)
    return bm25_topk_indexed(kept_post, dfs_d, stats_d, list(QUERY_TERMS), TOP_K)
