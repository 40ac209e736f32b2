"""Text-analysis operators for a training-data pipeline (build-plan
step 6): quality scoring, language-ID heuristic, token counting,
document fingerprinting.

All pure column expressions — codegen'd, scan-parallel, no shuffle
except the final small aggregates. Ratios are exact small-int
divisions, so oracle hashes are stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.rank import top_k
from ..functions.stable import rnd
from ..functions.sliding import sliding_join, sliding_min
from ..registry import query

_WORDS_SQL = "list_filter(string_split(text, ' '), w -> w <> '')"


def _words() -> Column:
    return F.array_remove(F.split(F.col("text"), " "), "")


@query(
    "q_text_stats",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, n_chars, {_WORDS_SQL} AS words FROM documents
    ),
    m AS (
      SELECT doc_id, lang, n_chars,
             len(words) AS n_words,
             len(list_distinct(words)) AS n_distinct,
             list_sum(list_transform(words, x -> length(x))) AS total_word_chars
      FROM w
    )
    SELECT doc_id, lang, n_chars, n_words, n_distinct,
           floor((n_distinct * 1.0 / n_words) * 10000 + 0.5) / 10000 AS distinct_ratio,
           floor((total_word_chars * 1.0 / n_words) * 10000 + 0.5) / 10000 AS avg_word_len,
           floor(((least(n_words * 1.0 / 100, 1.0)) * 0.5
                 + (n_distinct * 1.0 / n_words) * 0.3
                 + (least((total_word_chars * 1.0 / n_words) / 10, 1.0)) * 0.2)
                 * 10000 + 0.5) / 10000 AS quality_score
    FROM m
    WHERE n_words > 0
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: length, lexical diversity, word
    shape — the document-quality heuristic family (length/punct/
    stopword-ratio class of filters used to score training text).
    """
    docs = load(spark, sf_dir, "documents")
    w = docs.select("doc_id", "lang", "n_chars", _words().alias("words"))
    n_words = F.size("words")
    n_distinct = F.size(F.array_distinct("words"))
    total_chars = F.aggregate(
        F.transform("words", lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    m = w.select(
        "doc_id",
        "lang",
        "n_chars",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
        total_chars.alias("total_word_chars"),
    ).filter(F.col("n_words") > 0)
    distinct_ratio = F.col("n_distinct") * 1.0 / F.col("n_words")
    avg_word_len = F.col("total_word_chars") * 1.0 / F.col("n_words")
    quality = (
        F.least(F.col("n_words") * 1.0 / 100, F.lit(1.0)) * 0.5
        + distinct_ratio * 0.3
        + F.least(avg_word_len / 10, F.lit(1.0)) * 0.2
    )
    return m.select(
        "doc_id",
        "lang",
        "n_chars",
        "n_words",
        "n_distinct",
        rnd(distinct_ratio, 4).alias("distinct_ratio"),
        rnd(avg_word_len, 4).alias("avg_word_len"),
        rnd(quality, 4).alias("quality_score"),
    )


#: language marker words (stopword heuristic); priority order breaks
#: score ties. The synthetic corpus shares one vocabulary, so this
#: mainly demonstrates the operator shape: real corpora swap the table.
LANG_MARKERS = (
    ("en", ("the", "a")),
    ("es", ("el", "la", "los", "y")),
    ("de", ("der", "die", "das", "und")),
    ("fr", ("le", "les", "et", "une")),
)


def _lang_scores_sql() -> str:
    cols = []
    for lang, markers in LANG_MARKERS:
        terms = " + ".join(
            f"(CASE WHEN list_contains(words, '{m}') THEN 1 ELSE 0 END)" for m in markers
        )
        cols.append(f"({terms}) AS score_{lang}")
    return ", ".join(cols)


@query(
    "q_lang_id",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, {_WORDS_SQL} AS words FROM documents
    ),
    s AS (
      SELECT doc_id, lang, {_lang_scores_sql()} FROM w
    ),
    p AS (
      SELECT doc_id, lang,
             CASE WHEN score_en >= score_es AND score_en >= score_de
                       AND score_en >= score_fr AND score_en > 0 THEN 'en'
                  WHEN score_es >= score_de AND score_es >= score_fr
                       AND score_es > 0 THEN 'es'
                  WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
                  WHEN score_fr > 0 THEN 'fr'
                  ELSE 'unknown' END AS predicted
      FROM s
    )
    SELECT lang, predicted, count(*) AS n_docs
    FROM p GROUP BY lang, predicted
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-word scoring) vs the labeled
    ``lang`` column — confusion-matrix counts.

    Marker scoring is a broadcastable lookup + argmax with a fixed
    priority tie-break; per-doc work only, one tiny final aggregate.
    """
    docs = load(spark, sf_dir, "documents")
    w = docs.select("doc_id", "lang", _words().alias("words"))
    scores = {}
    for lang, markers in LANG_MARKERS:
        s = None
        for m in markers:
            term = F.when(F.array_contains("words", m), 1).otherwise(0)
            s = term if s is None else s + term
        scores[lang] = s
    predicted = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] > 0),
            "en",
        )
        .when((scores["es"] >= scores["de"]) & (scores["es"] >= scores["fr"]) & (scores["es"] > 0), "es")
        .when((scores["de"] >= scores["fr"]) & (scores["de"] > 0), "de")
        .when(scores["fr"] > 0, "fr")
        .otherwise("unknown")
    )
    return (
        w.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "q_token_count",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len({_WORDS_SQL}) AS ws_tokens,
             len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
             length(text) AS n_chars
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(sum(re_tokens) AS BIGINT) AS total_re_tokens,
           floor((sum(n_chars) * 1.0 / sum(re_tokens)) * 10000 + 0.5) / 10000 AS chars_per_token
    FROM t GROUP BY lang
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways — whitespace split and a BPE-ish regex
    tokenizer — with chars-per-token, per language.

    The counting is per-row codegen; only the 5-group aggregate
    shuffles. This is the shape of corpus-size accounting at 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(_words()).alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).alias("re_tokens"),
        F.length("text").alias("n_chars"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("re_tokens").alias("total_re_tokens"),
        rnd(F.sum("n_chars") * 1.0 / F.sum("re_tokens"), 4).alias("chars_per_token"),
    )


FP_MOD = 1_000_000_007


@query(
    "q_doc_fingerprint",
    oracle=f"""
    WITH codes AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            i -> unicode(text[i:i])) AS cs
      FROM documents
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                       (acc, x) -> (acc * 31 + x) % {FP_MOD}) AS fingerprint
    FROM codes
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint over the character stream
    (acc×31 + code, mod 1e9+7) — order-sensitive (unlike the word-set
    hash in q_dedup_exact), so byte-level edits change it.

    Left-fold with an explicit 0 seed on both engines; values stay
    < 2^35, no overflow in either.
    """
    docs = load(spark, sf_dir, "documents")
    codes = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % FP_MOD
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


#: duplicate-bigram fraction at/above which a document is flagged
#: repetitive (the Gopher-class repetition filters use 0.2 for
#: duplicate 2-grams)
REPETITION_THRESHOLD = 0.2

#: built with sliding_join, NOT transform-over-sequence-with-slice —
#: the naive lambda captures `words` and CollapseProject inlines its
#: definition into the body, re-evaluated per window: O(len²)/doc
#: (functions/sliding.py documents the measured blowup)
def _bigrams() -> Column:
    return sliding_join(F.col("words"), 2)


@query(
    "q_repetition",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(words), 2)),
                    i -> array_to_string(words[i:i+1], ' '))) AS gram
      FROM w
    ),
    c AS (
      SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram
    ),
    m AS (
      SELECT doc_id,
             CAST(sum(n) AS BIGINT) AS n_bigrams,
             CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
             CAST(max(n) AS BIGINT) AS top_count
      FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, n_distinct_bigrams, top_count,
           floor((1.0 - n_distinct_bigrams * 1.0 / n_bigrams) * 10000 + 0.5)
             / 10000 AS dup_bigram_frac,
           floor((top_count * 1.0 / n_bigrams) * 10000 + 0.5) / 10000
             AS top_bigram_frac,
           floor((1.0 - n_distinct_bigrams * 1.0 / n_bigrams) * 10000 + 0.5)
             / 10000 >= {REPETITION_THRESHOLD} AS repetitive
    FROM m
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring (the Gopher-style repetitive-text filters):
    per document, the duplicate word-2-gram fraction and the most-
    frequent-2-gram share, with a repetitive flag at
    ``REPETITION_THRESHOLD``. Boilerplate and template spam score
    high; natural prose stays low.

    Scale shape: explode to (doc, gram) — codegen'd generator, no
    Python — then two hash aggregations, keyed (doc_id, gram) and
    doc_id. Both keys are high-cardinality and skew-free; nothing
    holds a whole document's grams in one buffer except the count
    map for that document's partitions.
    """
    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", _words().alias("words")
    ).select("doc_id", F.explode(_bigrams()).alias("gram"))
    per_gram = grams.groupBy("doc_id", "gram").count()
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("count").alias("n_bigrams"),
        F.count("*").alias("n_distinct_bigrams"),
        F.max("count").alias("top_count"),
    )
    dup_frac = rnd(
        F.lit(1.0) - F.col("n_distinct_bigrams") * 1.0 / F.col("n_bigrams"), 4
    )
    top_frac = rnd(F.col("top_count") * 1.0 / F.col("n_bigrams"), 4)
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_distinct_bigrams",
        "top_count",
        dup_frac.alias("dup_bigram_frac"),
        top_frac.alias("top_bigram_frac"),
        (dup_frac >= REPETITION_THRESHOLD).alias("repetitive"),
    )


@query(
    "q_seq_histogram",
    oracle=f"""
    WITH t AS (
      SELECT lang, len({_WORDS_SQL}) AS n_tokens FROM documents
    ),
    b AS (
      SELECT lang, n_tokens,
             CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket
      FROM t WHERE n_tokens > 0
    )
    SELECT lang, bucket,
           CAST(2 ** bucket AS BIGINT) AS lo_tokens,
           CAST(2 ** (bucket + 1) - 1 AS BIGINT) AS hi_tokens,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM b GROUP BY lang, bucket
    """,
)
def q_seq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram: documents per (lang, power-of-two
    token bucket) with the token mass per bucket — the query that
    sizes training sequence lengths and packing budgets (how much of
    the corpus fits 512? how much needs 4k?).

    Bucket = floor(log2(n_tokens)) computed INTEGER-exactly as
    binary-representation length − 1 on both engines — float log2 is
    not guaranteed exact at powers of two, and an off-by-one-ulp
    there would flip bucket boundaries between engines. One hash
    aggregation; output is |langs| × ~12 rows at any corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(_words())
    b = docs.select("lang", n_tokens.alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    ).withColumn(
        "bucket",
        (F.length(F.conv(F.col("n_tokens").cast("string"), 10, 2)) - 1).cast("long"),
    )
    return b.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    ).select(
        "lang",
        "bucket",
        F.expr("shiftleft(1L, CAST(bucket AS INT))").alias("lo_tokens"),
        F.expr("shiftleft(1L, CAST(bucket AS INT) + 1) - 1L").alias("hi_tokens"),
        "n_docs",
        "total_tokens",
    )


TFIDF_TOP_K = 10


@query(
    "q_tfidf_terms",
    oracle=f"""
    WITH w AS (
      SELECT source, unnest({_WORDS_SQL}) AS term FROM documents
    ),
    tf AS (
      SELECT source, term, count(*) AS tf FROM w GROUP BY source, term
    ),
    df AS (
      SELECT term, count(DISTINCT source) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf.tf, df.df,
             floor(tf.tf * (floor(ln(n.n_sources * 1.0 / df.df) * 1000000 + 0.5)
                            / 1000000) * 10000 + 0.5) / 10000 AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored
    )
    SELECT source, rank, term, tf, CAST(df AS BIGINT) AS df, tfidf
    FROM ranked WHERE rank <= {TFIDF_TOP_K}
    """,
)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per source: top-10 by tf-idf, where tf is
    the term's occurrence count within the source and idf is
    ln(#sources / #sources-containing) — the corpus-exploration query
    behind "what is this dump actually about".

    Engine parity: ln() differs between engines by 1 ulp on some
    inputs (measured: ln(20/7)), so the idf factor is stable-rounded
    to 6 dp BEFORE the multiply on both sides; the product rounds to
    4 dp. Scale shape: two hash aggregations — (source, term) then
    term — a broadcastable df table joined back, and a per-source
    window for the top-k cut (each partition sorts only that source's
    vocabulary; for web-scale vocabularies swap in a per-source
    TakeOrdered variant).
    """
    docs = load(spark, sf_dir, "documents")
    w = docs.select("source", F.explode(_words()).alias("term"))
    tf = w.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("source").alias("df"))
    n_sources = docs.agg(
        F.countDistinct("source").alias("n_sources")
    )
    idf = rnd(F.log(F.col("n_sources") * 1.0 / F.col("df")), 6)
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_sources))
        .withColumn("tfidf", rnd(F.col("tf") * idf, 4))
    )
    return top_k(
        scored, TFIDF_TOP_K, [F.desc("tfidf"), F.asc("term")], by=["source"]
    ).select("source", "rank", "term", "tf", "df", "tfidf")


#: winnowing parameters: k-gram size (words) and window width —
#: guarantees any shared run of (WINNOW_W + k − 1) words produces at
#: least one shared fingerprint (the winnowing guarantee)
WINNOW_K = 3
WINNOW_W = 4


@query(
    "q_winnow_fingerprints",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(words) - {WINNOW_K - 1}, 1) + 1),
                 i -> md5(array_to_string(words[i:i+{WINNOW_K - 1}], ' '))) AS hashes
      FROM w
    ),
    fp AS (
      SELECT doc_id, len(hashes) AS n_grams,
             list_distinct(list_transform(
                 range(1, greatest(len(hashes) - {WINNOW_W - 1}, 1) + 1),
                 i -> list_min(hashes[i:i+{WINNOW_W - 1}]))) AS fps
      FROM h
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(list_sort(fps), ' ')) AS fingerprint_digest
    FROM fp
    """,
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (the MOSS scheme): per
    document, the distinct window-minimum k-gram hashes — a compact
    signature with the winnowing GUARANTEE that any shared run of
    w + k − 1 words between two documents yields at least one shared
    fingerprint, unlike minhash's probabilistic recall. The digest
    column pins the exact selected set.

    One pass, no explode, no shuffle: k-gram hashes and window
    minima are per-row array kernels (interpreted higher-order
    functions — Spark does not codegen them — built capture-free via
    functions/sliding.py so they stay O(len) per document).
    """
    docs = load(spark, sf_dir, "documents")
    hashes = F.transform(
        sliding_join(F.col("words"), WINNOW_K), lambda g: F.md5(g)
    )
    fps = F.array_distinct(sliding_min(F.col("hashes"), WINNOW_W))
    return (
        docs.select("doc_id", _words().alias("words"))
        .select("doc_id", F.size("words").alias("__nw"), hashes.alias("hashes"))
        .select(
            "doc_id",
            F.size("hashes").cast("long").alias("n_grams"),
            fps.alias("fps"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.size("fps").cast("long").alias("n_fingerprints"),
            F.md5(F.concat_ws(" ", F.array_sort("fps"))).alias("fingerprint_digest"),
        )
    )


#: containment detection knobs: drop fingerprints shared by more than
#: STOP_FP_DOCS documents (template/boilerplate "stop fingerprints" —
#: they generate quadratic candidate pairs and carry no signal), flag
#: pairs where this fraction of the smaller side's fingerprints occur
#: in the larger side
CONTAIN_THRESHOLD = 0.8
STOP_FP_DOCS = 20


@query(
    "q_containment",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(words) - {WINNOW_K - 1}, 1) + 1),
                 i -> md5(array_to_string(words[i:i+{WINNOW_K - 1}], ' '))) AS hashes
      FROM w
    ),
    fp AS (
      SELECT doc_id,
             list_distinct(list_transform(
                 range(1, greatest(len(hashes) - {WINNOW_W - 1}, 1) + 1),
                 i -> list_min(hashes[i:i+{WINNOW_W - 1}]))) AS fps
      FROM h
    ),
    x AS (SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS f FROM fp),
    live AS (
      SELECT f FROM x GROUP BY f HAVING count(*) <= {STOP_FP_DOCS}
    ),
    xl AS (SELECT x.* FROM x JOIN live USING (f)),
    shared AS (
      SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
             any_value(a.n_fp) AS inner_fp, any_value(b.n_fp) AS outer_fp,
             count(*) AS n_shared
      FROM xl a JOIN xl b
        ON a.f = b.f
       AND (a.n_fp < b.n_fp OR (a.n_fp = b.n_fp AND a.doc_id < b.doc_id))
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT inner_doc, outer_doc,
           CAST(inner_fp AS BIGINT) AS inner_fp,
           CAST(outer_fp AS BIGINT) AS outer_fp,
           CAST(n_shared AS BIGINT) AS n_shared,
           floor(n_shared * 1.0 / inner_fp * 10000 + 0.5) / 10000 AS containment
    FROM shared
    WHERE n_shared * 1.0 / inner_fp >= {CONTAIN_THRESHOLD}
    """,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection: pairs where ≥ 80% of the
    SMALLER document's winnowing fingerprints occur in the larger
    one — the quote/extract/subset duplicate class that symmetric
    Jaccard misses (a paragraph inside a book has near-zero Jaccard
    but full containment).

    Scale shape: candidates come only from shared-fingerprint
    co-occurrence, after dropping "stop fingerprints" shared by more
    than {STOP_FP_DOCS} documents (template boilerplate — the
    quadratic-pair generators, exactly analogous to stopword removal
    before an inverted-index join). The pair aggregation is keyed on
    (inner, outer) — high-cardinality, skew-bounded by the stop-
    fingerprint cut.

    Known scale limitation (measured on the 10× probe): the stop cut
    is an ABSOLUTE document frequency, like a fixed stopword list.
    On the density-inflated probe corpus the median fingerprint df
    rises to ~40 and the cut swallows nearly all fingerprints —
    0 verdicts survive. At real corpus growth the cut should become
    RELATIVE (df/N, mirroring how stopwords are corpus-fraction
    concepts); kept absolute here so the DuckDB oracle stays
    byte-stable across SFs.

    Two exchanges are deliberate, found by the 10× probe (jstack
    showed single-task stages re-evaluating the winnowing expression
    interpreted, once per consumer branch):
    - ``repartition(P, doc_id)`` BEFORE the fingerprint projection:
      the kernel is CPU-bound (~ms/doc of interpreted higher-order
      exprs — Spark never codegens transform/array_min), so task
      parallelism must follow cores, not scan bytes — a 20 MB input
      is one file split and would serialize the whole corpus through
      one task;
    - ``repartition(P, f)`` AFTER the explode: aligns the exploded
      stream with the f-keyed consumers (stop-fingerprint count and
      inverted-index self-join). NB the self-join's attribute
      deduplication clones the lineage per branch, so the static
      plan shows four scans — the fingerprint kernel being O(len)
      per doc (functions/sliding.py) is what makes that affordable;
      before the sliding fix the cloned branches were the dominant
      cost.
    """
    docs = load(spark, sf_dir, "documents")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    hashes = F.transform(
        sliding_join(F.col("words"), WINNOW_K), lambda g: F.md5(g)
    )
    fps = F.array_distinct(sliding_min(F.col("hashes"), WINNOW_W))
    x = (
        docs.repartition(n_part, "doc_id")
        .select("doc_id", _words().alias("words"))
        .select("doc_id", hashes.alias("hashes"))
        .select("doc_id", fps.alias("fps"))
        .select("doc_id", F.size("fps").alias("n_fp"), F.explode("fps").alias("f"))
        .repartition(n_part, "f")
    )
    live = x.groupBy("f").agg(F.count("*").alias("__df")).filter(
        F.col("__df") <= STOP_FP_DOCS
    ).select("f")
    xl = x.join(live, "f")
    a = xl.select(
        F.col("f"), F.col("doc_id").alias("inner_doc"), F.col("n_fp").alias("inner_fp")
    )
    b = xl.select(
        F.col("f").alias("__bf"),
        F.col("doc_id").alias("outer_doc"),
        F.col("n_fp").alias("outer_fp"),
    )
    shared = (
        a.join(
            b,
            (F.col("f") == F.col("__bf"))
            & (
                (F.col("inner_fp") < F.col("outer_fp"))
                | (
                    (F.col("inner_fp") == F.col("outer_fp"))
                    & (F.col("inner_doc") < F.col("outer_doc"))
                )
            ),
        )
        .groupBy("inner_doc", "outer_doc")
        .agg(
            F.first("inner_fp").alias("inner_fp"),
            F.first("outer_fp").alias("outer_fp"),
            F.count("*").alias("n_shared"),
        )
    )
    return (
        shared.filter(
            F.col("n_shared") * 1.0 / F.col("inner_fp") >= CONTAIN_THRESHOLD
        )
        .select(
            "inner_doc",
            "outer_doc",
            F.col("inner_fp").cast("long").alias("inner_fp"),
            F.col("outer_fp").cast("long").alias("outer_fp"),
            F.col("n_shared").cast("long").alias("n_shared"),
            rnd(F.col("n_shared") * 1.0 / F.col("inner_fp"), 4).alias("containment"),
        )
    )
