"""Large-scale deduplication operators (build-plan step 6 — the
LLM-training-data extensions beyond the reference surface).

Dedup families over ``documents``, plus the cluster assignment that
turns pairs into a keep/drop list:
- exact (canonical-form): hash of the sorted distinct word set —
  catches reordered/repeated-word duplicates that byte-exact hashing
  misses (testdata has 0 byte-exact but thousands of set-equal pairs);
- MinHash + LSH banding: 18 signatures, 3 bands × 6 rows,
  bucket-local pair generation (functions/lsh.band_pairs) and true
  Jaccard verification. This is THE 100 TB dedup path: cost is O(docs × H)
  for signatures plus bucket-local pair generation — never an
  all-pairs product;
- SimHash: 16-bit sign-sum fingerprint; identical word sets collide
  exactly, near sets land at small Hamming distance;
- n-gram Jaccard: word-3-gram near-dups — identical shingle sets
  collapse to star pairs, cross-set candidates come from
  (lang, source, minhash-band) buckets (16 hashes, 4 bands × 4 rows)
  with an exact-Jaccard verify;
- connected components: min-label propagation over the verified pair
  graph → (doc_id, component, is_canonical).

Engine/oracle parity: all hashing goes through md5 (stable in both
engines); minima over hex strings are lexicographic; Jaccard ratios
are exact small-int divisions — no float-summation drift anywhere.

Scale probe (2026-08-14, round 4, local[32], reproducible via
``tools/scale_probe.py``; 10× corpus = 50k docs, 10 perturbed
copies of every sf0.1 doc, so every doc gains ~10 near-copies and
TRUE minhash pair count grows 35.9× (25.7k → 922k) — deliberately
harsher density than a plain scale-up; r3's probe numbers were
measured on a one-off corpus and are superseded by these):
- q_dedup_minhash: 4.6s → 116s while output pairs grew 35.9×
  (25,735 → 922,481) — time tracks OUTPUT pairs sublinearly, the
  correct asymptote for pair-emitting dedup (generation is
  inherently quadratic per cluster; banding keeps everything else
  linear). This probe ran the salted pair plan that
  functions/lsh.py records as measured slower and removed.
- q_ngram_jaccard: 3.4s → 12s while output rows grew 4 → 223,988
  (the probe's copy families are shingle-level near-dups, unlike
  the word-shuffled sf duplicates).
- q_dedup_components: 9.2s → 180s on a 922k-edge graph (36× edges
  for ~20× time — linear-ish in edges × pointer-jumped rounds; the
  r3 docstring's "120s" predates pointer jumping and its "6.6s"
  was the 1× figure).
- q_dedup_incremental: 2.9s → 57s (10k new vs 40k history at 10×).
  Was 13.4s → 325s before round 4's sliding-window fix — see
  functions/sliding.py for the O(len²) lambda-capture blowup this
  module's shingle/chunk kernels previously hit, found by jstack
  on exactly this probe. Post-fix the cost is candidate-bound:
  stage profile shows 57.3M distinct band-collision pairs verified
  down to 0.94M at J≥0.9 (prep 2.4s, exact 1.8s, pair ids 7.5s,
  verify 28.5s). That candidate rate is a property of the probe's
  density (40-word vocab → any two docs share J≈0.5-0.7, and
  P(band collision) = J^6 per band) — rows-per-band is the
  recall/cost dial for real corpora, and candidates (not docs²)
  is the correct LSH asymptote.
- q_line_dedup: 1.2s → 5.1s. Linear: explode + one count shuffle.
- q_containment (textstats.py): 5.4s → 37s, 0 rows at 10× — the
  absolute stop-fingerprint cut saturates on the density-inflated
  corpus; see its docstring's relative-cut note.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.lsh import band_pairs
from ..functions.materialize import cached
from ..functions.sliding import chunked_join, sliding_join
from ..functions.stable import rnd
from ..registry import query
from .sampling import sample_bucket

N_HASHES = 18
N_BANDS = 3  # rows per band = N_HASHES // N_BANDS = 6
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_VERIFY = 0.9


def word_set(text: Column) -> Column:
    return F.array_distinct(F.array_remove(F.split(text, " "), ""))


def fingerprint(text: Column) -> Column:
    """THE canonical exact-dup fingerprint: md5 of the sorted
    distinct word set. Single definition shared by q_dedup_exact,
    the dataset card's dup attribution, the release builder, and the
    streaming dedup history — these agree on what "exact duplicate"
    means only because they all call this helper; never inline the
    expression."""
    return F.md5(F.concat_ws(" ", F.array_sort(word_set(text))))


_WORD_SET_SQL = "list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))"


def _salted_min(words: Column, salt: str) -> Column:
    # NB: the transform lambda MUST be single-parameter — PySpark
    # treats a second lambda parameter as the array index, which once
    # silently replaced a default-arg salt here with the index column
    return F.array_min(F.transform(words, lambda t: F.md5(F.concat(F.lit(salt), t))))


def minhash_signature(
    words: Column, n_hashes: int = N_HASHES, salt_fmt: str = "{i}:"
) -> list[Column]:
    """H independent min-hashes: min over tokens of md5(salt token).
    Hex-string minima are lexicographic in both engines."""
    return [_salted_min(words, salt_fmt.format(i=i)) for i in range(n_hashes)]


def _band_sigs(
    words: Column,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    salt_fmt: str = "{i}:",
) -> Column:
    """The minhash band array of a token set: band b joins min-hashes
    b·rows … b·rows + rows − 1 (the functions/lsh.band_pairs input,
    which keys on the band's array position)."""
    mh = minhash_signature(words, n_bands * rows_per_band, salt_fmt)
    return F.array(
        *[
            F.concat_ws("|", *mh[rows_per_band * b : rows_per_band * (b + 1)])
            for b in range(n_bands)
        ]
    )


@query(
    "q_dedup_exact",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort({_WORD_SET_SQL}), ' ')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           count(*) AS n_docs,
           min(doc_id) AS canonical_doc_id
    FROM fp
    GROUP BY fingerprint
    HAVING count(*) > 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a canonical form (sorted distinct word set).

    One groupBy on a 32-byte hash — at 100 TB this is a single
    well-spread shuffle; the canonical representative is min(doc_id).
    """
    docs = load(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


#: C4-style line-level dedup. The synthetic corpus has no newlines,
#: so a "line" is a fixed-width chunk of LINE_WORDS consecutive words
#: — same granularity trade-off C4 makes with real newlines: small
#: enough to isolate boilerplate, large enough that chance collisions
#: are rare. A line repeated across >= BOILER_DF distinct documents
#: is boilerplate and removed from every document that carries it.
LINE_WORDS = 3
BOILER_DF = 5


def doc_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, idx, line): 0-indexed LINE_WORDS-word chunks, in
    document order. Pure projection + explode — linear, no shuffle."""
    ws = F.array_remove(F.split("text", " "), "")
    chunks = chunked_join(ws, LINE_WORDS)
    return docs.select("doc_id", F.posexplode(chunks).alias("idx", "line"))


def line_dedup(docs: DataFrame) -> DataFrame:
    """Remove corpus-frequent lines from every document (C4's line
    dedup, the standard web-boilerplate pass).

    Plan shape for 100 TB: one shuffle of the exploded (line, doc_id)
    stream keyed on the line text to compute document frequency —
    partial aggregation spreads hot boilerplate lines because the
    (line, doc_id) pairs being counted are themselves distinct-spread
    — then the small df>=BOILER_DF survivor set broadcasts back onto
    the exploded stream (AQE falls back to a shuffle join if the
    boilerplate set is ever large), and one groupBy(doc_id)
    reassembles the kept lines in order. Nothing quadratic; the only
    wide exchanges are keyed on high-cardinality line text / doc_id.
    """
    lines = doc_lines(docs)
    boiler = (
        lines.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_DF)
        .select("line", F.lit(True).alias("is_boiler"))
    )
    # no broadcast hint: AQE broadcasts a small boilerplate set and
    # falls back to a shuffle join when the df>=threshold set is
    # large — a hard hint would make that documented fallback
    # impossible (Spark never demotes an explicit broadcast)
    flagged = lines.join(boiler, "line", "left")
    kept_struct = F.when(
        F.col("is_boiler").isNull(), F.struct(F.col("idx"), F.col("line"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).alias("n_boiler"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
            " ",
        ).alias("clean_text"),
    )


@query(
    "q_line_dedup",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    lines AS (
      SELECT doc_id, i AS idx,
             array_to_string(list_slice(ws, i*{LINE_WORDS}+1, i*{LINE_WORDS}+{LINE_WORDS}), ' ') AS line
      FROM w, UNNEST(range(0, CAST(ceil(len(ws)/{LINE_WORDS}.0) AS INT))) AS t(i)
    ),
    boiler AS (
      SELECT line FROM lines GROUP BY line
      HAVING count(DISTINCT doc_id) >= {BOILER_DF}
    ),
    flagged AS (
      SELECT l.doc_id, l.idx, l.line, b.line IS NOT NULL AS is_boiler
      FROM lines l LEFT JOIN boiler b ON l.line = b.line
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           coalesce(string_agg(line, ' ' ORDER BY idx) FILTER (WHERE NOT is_boiler), '')
             AS clean_text
    FROM flagged GROUP BY doc_id
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line removal report: per document, total /
    boilerplate line counts and the reassembled cleaned text."""
    return line_dedup(load(spark, sf_dir, "documents"))


def _minhash_oracle() -> str:
    mh_cols = ", ".join(
        f"list_min(list_transform(ws, t -> md5('{i}:' || t))) AS mh{i}"
        for i in range(N_HASHES)
    )
    band_exprs = ", ".join(
        "'{}' || '|' || {}".format(
            b,
            " || '|' || ".join(
                f"mh{ROWS_PER_BAND * b + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, {_WORD_SET_SQL} AS ws FROM documents
    ),
    grp AS (
      SELECT md5(array_to_string(list_sort(ws), ' ')) AS fp,
             min(doc_id) AS rid, count(*) AS sz, arg_min(ws, doc_id) AS ws
      FROM d GROUP BY fp
    ),
    mh AS (
      SELECT rid, sz, ws, {mh_cols} FROM grp
    ),
    sigs AS (
      SELECT rid, unnest([{band_exprs}]) AS sig FROM mh
    ),
    cand AS (
      SELECT DISTINCT a.rid AS rid_a, b.rid AS rid_b
      FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.rid < b.rid
    )
    SELECT c.rid_a AS doc_a, c.rid_b AS doc_b,
           floor((len(list_intersect(ga.ws, gb.ws)) * 1.0
                 / len(list_distinct(list_concat(ga.ws, gb.ws)))) * 10000 + 0.5) / 10000 AS jaccard,
           CAST(ga.sz AS BIGINT) AS n_docs_a, CAST(gb.sz AS BIGINT) AS n_docs_b
    FROM cand c
    JOIN grp ga ON ga.rid = c.rid_a
    JOIN grp gb ON gb.rid = c.rid_b
    WHERE len(list_intersect(ga.ws, gb.ws)) * 1.0
          / len(list_distinct(list_concat(ga.ws, gb.ws))) >= {JACCARD_VERIFY}
    """


@query("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs between DISTINCT canonical word
    sets, Jaccard-verified at ≥ 0.9 — the standard two-stage
    training-data dedup: exact dedup first, near-dedup over the
    survivors.

    Plan shape (the part that matters at 100 TB):
    1. collapse byte-identical word sets to one representative
       (groupBy fingerprint — same shuffle as q_dedup_exact). This is
       load-bearing for LSH: a K-document identical cluster would
       otherwise emit K²/2 candidate pairs per band (measured 23.5M
       candidates over 5 000 docs at sf0.1 without it; 248-doc
       identical groups exist in the corpus).
    2. signatures: reps × 18 md5-minima, a narrow no-shuffle
       projection; 3 bands × 6 rows per band. Wide bands keep the
       mid-similarity mass out of the buckets (P[candidate] = s⁶ per
       band): this corpus is template-generated with millions of
       0.3-0.8-Jaccard pairs that 2-row bands would admit and the
       ≥0.9 verify would then discard.
    3. band self-join on (band, signature) through
       functions/lsh.band_pairs (collision buckets only, never
       all-pairs) → distinct rep pairs → verify
       against true Jaccard. Intra-group duplicates (Jaccard 1.0) are
       q_dedup_exact's output, not repeated here; group sizes ride
       along so downstream can weight clusters.
    """
    docs = load(spark, sf_dir, "documents")
    with cached(minhash_rep_groups(docs)) as grp:
        return minhash_verified_pairs(grp).localCheckpoint()


def minhash_rep_groups(docs: DataFrame) -> DataFrame:
    """The collapse stage: one row per DISTINCT canonical word set —
    (fp, rid, sz, ws), where fp is exactly ``fingerprint(text)`` and
    rid the group's min doc_id. Shared by q_dedup_minhash and the
    best_of_component member expansion (r14: the expansion previously
    re-aggregated this same fingerprint→rep mapping from scratch).

    Callers cache it in a ``materialize.cached`` scope and checkpoint
    their result before the scope exits: the consumers (signature
    path + both verify sides + the component member expansion) would
    each re-run the scan + the SortAggregate that the array-typed
    min_by buffer forces (measured 3× at sf0.1). The table is one row
    per DISTINCT word set — already the collapsed small side at any
    scale. The cut stays HERE, not after the signature columns: an
    r13 A/B of the wider cut (cache mh0..17 too, so the two band-join
    sides share the transform) measured 3.70 → 4.30 s median — the
    duplicated rep-level signature work runs in overlapping jobs on
    idle cores while the wider cache serializes its materialization
    (same lesson as the ngram_dedup_pairs A/B below)."""
    d = docs.select("doc_id", word_set(F.col("text")).alias("ws"))
    return (
        d.groupBy(F.md5(F.concat_ws(" ", F.array_sort("ws"))).alias("fp"))
        .agg(
            F.min("doc_id").alias("rid"),
            F.count("*").alias("sz"),
            F.min_by("ws", "doc_id").alias("ws"),
        )
    )


def minhash_verified_pairs(grp: DataFrame) -> DataFrame:
    """Signature → band-bucket self-join → exact-Jaccard verify over
    a rep-group table from :func:`minhash_rep_groups` (q_dedup_minhash
    minus the collapse stage — see its docstring for the plan
    argument)."""
    cand = band_pairs(grp, "rid", _band_sigs(F.col("ws")))
    ga = grp.select(F.col("rid").alias("rid_a"), F.col("ws").alias("ws_a"), F.col("sz").alias("sz_a"))
    gb = grp.select(F.col("rid").alias("rid_b"), F.col("ws").alias("ws_b"), F.col("sz").alias("sz_b"))
    jac = F.size(F.array_intersect("ws_a", "ws_b")) / F.size(F.array_union("ws_a", "ws_b"))
    return (
        cand.join(ga, "rid_a")
        .join(gb, "rid_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_VERIFY)
        .select(
            F.col("rid_a").alias("doc_a"),
            F.col("rid_b").alias("doc_b"),
            rnd(F.col("jaccard"), 4).alias("jaccard"),
            F.col("sz_a").alias("n_docs_a"),
            F.col("sz_b").alias("n_docs_b"),
        )
    )


def _simhash_oracle() -> str:
    bit_sums = ", ".join(
        f"CAST(sum(CASE WHEN (h >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s{bit}"
        for bit in range(16)
    )
    simhash = " + ".join(f"(CASE WHEN s{bit} > 0 THEN {1 << bit} ELSE 0 END)" for bit in range(16))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_WORD_SET_SQL}) AS w FROM documents
    ),
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(w), 1, 4) AS INTEGER) AS h FROM tok
    ),
    bits AS (
      SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash FROM bits
    """


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document.

    explode(words) → 16 conditional sums in ONE hash aggregate →
    sign-pack. Near-dup docs land at small Hamming distance; grouping
    by the fingerprint (or banding its halves) gives the scale path.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(word_set(F.col("text"))).alias("w"))
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("long").alias("h"),
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{bit}")
        for bit in range(16)
    ]
    bits = hashed.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for bit in range(16):
        term = F.when(F.col(f"s{bit}") > 0, F.lit(1 << bit)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return bits.select("doc_id", simhash.cast("long").alias("simhash"))


# range(1, N) is exclusive-end in DuckDB but sequence(1, N) is
# inclusive in Spark: both forms below generate i = 1..max(len-2, 1)
_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(words) - 1, 2)), "
    "i -> array_to_string(words[i:i+2], ' ')))"
)

# n-gram LSH parameters: 16 minima over SHINGLES, 4 bands × 4 rows.
# At the 0.8 verify threshold P[pair shares ≥1 band] =
# 1 − (1 − 0.8⁴)⁴ ≈ 0.88; at 0.5 it is ≈ 0.23 — shingle-level
# similarity is far more discriminative than word-level, so 4-row
# bands keep the template-generated mid-similarity mass out.
NGRAM_HASHES = 16
NGRAM_BANDS = 4
NGRAM_ROWS = NGRAM_HASHES // NGRAM_BANDS
NGRAM_VERIFY = 0.8


def _ngram_oracle() -> str:
    mh_cols = ", ".join(
        f"list_min(list_transform(shingles, t -> md5('g{i}:' || t))) AS mh{i}"
        for i in range(NGRAM_HASHES)
    )
    band_exprs = ", ".join(
        "'{}' || '|' || {}".format(
            b,
            " || '|' || ".join(f"mh{NGRAM_ROWS * b + r}" for r in range(NGRAM_ROWS)),
        )
        for b in range(NGRAM_BANDS)
    )
    jac = (
        "len(list_intersect(ga.shingles, gb.shingles)) * 1.0"
        " / len(list_distinct(list_concat(ga.shingles, gb.shingles)))"
    )
    return f"""
    WITH w AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, source, {_SHINGLES_SQL} AS shingles,
             md5(array_to_string(list_sort({_SHINGLES_SQL}), ' ')) AS fp
      FROM w
    ),
    grp AS (
      SELECT lang, source, fp,
             min(doc_id) AS rid, count(*) AS sz,
             arg_min(shingles, doc_id) AS shingles
      FROM sh GROUP BY lang, source, fp
    ),
    exact_pairs AS (
      SELECT m.lang, m.source, g.rid AS doc_a, m.doc_id AS doc_b,
             CAST(1.0 AS DOUBLE) AS jaccard, 'exact' AS kind
      FROM sh m
      JOIN grp g ON m.lang = g.lang AND m.source = g.source AND m.fp = g.fp
      WHERE m.doc_id <> g.rid
    ),
    mh AS (
      SELECT lang, source, rid, {mh_cols} FROM grp
    ),
    sigs AS (
      SELECT lang, source, rid, unnest([{band_exprs}]) AS sig FROM mh
    ),
    cand AS (
      SELECT DISTINCT a.lang, a.source, a.rid AS rid_a, b.rid AS rid_b
      FROM sigs a
      JOIN sigs b ON a.lang = b.lang AND a.source = b.source
                 AND a.sig = b.sig AND a.rid < b.rid
    ),
    near_pairs AS (
      SELECT c.lang, c.source, c.rid_a AS doc_a, c.rid_b AS doc_b,
             floor(({jac}) * 10000 + 0.5) / 10000 AS jaccard, 'near' AS kind
      FROM cand c
      JOIN grp ga ON ga.rid = c.rid_a
      JOIN grp gb ON gb.rid = c.rid_b
      WHERE {jac} >= {NGRAM_VERIFY}
    )
    SELECT * FROM exact_pairs UNION ALL SELECT * FROM near_pairs
    """


def ngram_dedup_pairs(docs: DataFrame) -> DataFrame:
    """Word-3-gram duplicate detection over any (doc_id, lang, source,
    text) DataFrame — the kernel behind q_ngram_jaccard, kept separate
    so tests can drive it with a corpus that actually contains
    shingle-level duplicates (the synthetic documents table's
    duplicates are word-order-shuffled, so they collide at word-set
    level but rarely at shingle level).
    """
    words = F.array_remove(F.split(F.col("text"), " "), "")
    # sliding_join, NOT transform-over-sequence-with-slice: the naive
    # lambda captures `words`, whose definition CollapseProject inlines
    # into the body — re-evaluated per window index, O(len²) per doc
    # (functions/sliding.py has the measured blowup)
    shingles = F.array_distinct(sliding_join(F.col("words"), 3))
    sh = (
        docs.select("doc_id", "lang", "source", words.alias("words"))
        .select("doc_id", "lang", "source", shingles.alias("shingles"))
        .withColumn("fp", F.md5(F.concat_ws(" ", F.array_sort("shingles"))))
    )
    # collapse identical shingle sets (one rep per distinct set per
    # (lang, source)); cached for this scope — consumed by the
    # signature path, the star-pair join-back, and both verify sides —
    # and the pair result checkpointed before the scope releases it.
    # The cut stays at the aggregate, NOT after the signature columns:
    # an r13 A/B of the wider cut (cache mh0..15 too, so the two
    # band-join sides share the transform) measured 1.73 → 2.42 s
    # median — the duplicated signature work runs in overlapping jobs
    # on idle cores while the wider cache serializes its
    # materialization.
    grp = sh.groupBy("lang", "source", "fp").agg(
        F.min("doc_id").alias("rid"),
        F.count("*").alias("sz"),
        F.min_by("shingles", "doc_id").alias("shingles"),
    )
    with cached(grp) as grp:
        exact_pairs = (
            sh.join(grp.select("lang", "source", "fp", "rid"), ["lang", "source", "fp"])
            .filter(F.col("doc_id") != F.col("rid"))
            .select(
                "lang",
                "source",
                F.col("rid").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
                F.lit(1.0).alias("jaccard"),
                F.lit("exact").alias("kind"),
            )
        )
        cand = band_pairs(
            grp,
            "rid",
            _band_sigs(F.col("shingles"), NGRAM_BANDS, NGRAM_ROWS, salt_fmt="g{i}:"),
            by=("lang", "source"),
        )
        ga = grp.select("lang", "source", F.col("rid").alias("rid_a"), F.col("shingles").alias("sh_a"))
        gb = grp.select(F.col("rid").alias("rid_b"), F.col("shingles").alias("sh_b"))
        jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
        near_pairs = (
            cand.join(ga, "rid_a")
            .join(gb, "rid_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= NGRAM_VERIFY)
            .select(
                "lang",
                "source",
                F.col("rid_a").alias("doc_a"),
                F.col("rid_b").alias("doc_b"),
                rnd(F.col("jaccard"), 4).alias("jaccard"),
                F.lit("near").alias("kind"),
            )
        )
        return exact_pairs.unionByName(near_pairs).localCheckpoint()


@query("q_ngram_jaccard", oracle=_ngram_oracle())
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram duplicate detection, output in the standard dedup
    shape: star-shaped 'exact' pairs (canonical rep ← each identical-
    shingle-set member) plus 'near' pairs between distinct sets at
    Jaccard ≥ 0.8, candidate-blocked by MinHash-LSH over the shingle
    sets and refined by (lang, source).

    Round-1 version blocked on (lang, source) alone — a
    fixed-cardinality key, so blocks grow O(n) and pair generation
    O(n²/blocks): dead at 100 TB. Now NOTHING is quadratic in corpus
    size:
    - identical clusters emit K−1 star pairs (rep, member), never
      K²/2 — the canonical keep/drop list a dedup pipeline actually
      consumes;
    - cross-set candidates come from (lang, source, band-signature)
      buckets, so block width is set by DATA similarity, not corpus
      size: a bucket holds only distinct shingle sets agreeing on 4
      of 16 min-hashes (expected admission s⁴ — ~41% at s = 0.8,
      ~0.4% at s = 0.25); worst-case bucket width = the number of
      distinct near-identical template variants.
    Same structure the whole way down as q_dedup_minhash: collapse →
    sign → band-bucket join → exact verify; only the token unit
    (3-gram shingles vs words), the (lang, source) refinement, and
    the star output differ. ``tests/test_ngram_dedup.py`` drives the
    kernel with a crafted corpus where both pair kinds are non-empty.
    """
    return ngram_dedup_pairs(load(spark, sf_dir, "documents"))


def connected_components(pairs: DataFrame, max_iter: int = 26) -> DataFrame:
    """Min-label propagation over an undirected pair graph →
    (node, component) where component = the minimum doc_id reachable.

    This turns dedup PAIRS into the artifact a pipeline actually
    ships: a keep/drop list (keep each component's minimum id). The
    iteration is Spark-idiomatic small-graph propagation: the edge
    set is the post-verify near-dup pairs — orders of magnitude
    smaller than the corpus at any scale — and each round is one
    broadcast-or-shuffle join + min-aggregate. Convergence needs
    ``diameter`` rounds (duplicate clusters are near-cliques, so
    diameter is tiny); each round localCheckpoints the label table to
    keep the plan flat instead of exponentially nested, and the loop
    exits when a round changes no label (one scalar count per round —
    an aggregate, not a data collect).
    """
    # Every localCheckpoint below is LAZY (eager=False): the frame is
    # materialized by the first job that computes it, which here is
    # always the per-round convergence aggregate — so checkpoint
    # materialization, the previous round's pointer-jump, and the sum
    # all run as ONE Spark job per round instead of the r13 shape's
    # four (eager propagate-checkpoint, sum, eager jump-checkpoint,
    # sum). At bench scale the loop cost is per-round driver-job
    # overhead, not data (the graph is node-sized); at 100 TB the
    # fused job does exactly the same data work as the split ones.
    # symmetrize with ONE pass over the pair source: the old
    # two-branch union executed the whole upstream pair pipeline
    # (band join + Jaccard verify for the minhash callers) once PER
    # BRANCH — Spark shares no common subplan across a union.
    # explode(array(fwd, rev)) reads each pair row exactly once and
    # emits both orientations (r14, guide §2.4 — remove repeated
    # subtree execution). Row set is identical by construction.
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
                    ),
                    F.struct(
                        F.col("doc_b").alias("s"), F.col("doc_a").alias("d")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.s", "__e.d")
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # convergence probe: labels start equal to the node id and only
    # ever DECREASE, so the exact label sum is unchanged between
    # rounds iff no label changed — one narrow aggregate (r13, guide
    # §2.4: fewer jobs per round). decimal(38,0) keeps the sum exact
    # for any id range: 2^63 nodes of magnitude < 2^63 sum below
    # 2^126 ≈ 8.5e37 < 10^38.
    def label_sum(df: DataFrame) -> object:
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    # job 1: materializes sym + the initial labels via the sum
    prev_sum = label_sum(labels)
    out = labels
    for _ in range(max_iter):
        neighbor = sym.join(labels, sym.s == labels.node).select(
            F.col("d").alias("node"), F.col("label")
        )
        # checkpoint the propagated table BEFORE the pointer-jump
        # self-join: without the cut the self-join's two sides each
        # re-execute the edge join + min-aggregate subtree (Spark
        # does not share common subplans across a self-join), doubling
        # every round's edge work (r13, guide §2.4 — remove repeated
        # subtree execution; node-sized materialization). The sum
        # below materializes it, so the jump still reads checkpointed
        # rows and per-round edge work stays single-execution.
        propagated = (
            neighbor.unionByName(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        # Convergence compares CONSECUTIVE PROPAGATE OUTPUTS (r14 —
        # one job per round; the r13 shape also summed the post-jump
        # table, a second job). Soundness: the label sequence is
        # pointwise non-increasing through both steps (propagate takes
        # a min with the own label; jump maps x → L(L(x)) ≤ L(x)
        # because L(y) ≤ y for every y), so
        #   propagated_{t-1} ≥ jumped_{t-1} ≥ propagated_t pointwise,
        # and equal SUMS force all three pointwise equal. In
        # particular propagate(jumped_{t-1}) = jumped_{t-1}: a
        # propagate fixpoint, i.e. labels constant along every edge,
        # i.e. every component sits at its min (the unique fixpoint
        # reachable from the monotone descent) — return it. Detection
        # can fire at most ONE round later than the r13 probe (only
        # when the final jump did real shortcutting), trading ≤ one
        # extra node-sized round for half the jobs in every round.
        s = label_sum(propagated)
        if s == prev_sum:
            out = propagated
            break
        prev_sum = s
        # pointer-jump: adopt the current label's OWN label. Labels
        # start equal to the node id and only ever decrease, so
        # label(label(x)) ≤ label(x) always — the shortcut composes
        # two hops per round: O(log d) rounds on chain-shaped
        # components instead of O(d). Lazy checkpoint: materialized
        # inside the NEXT round's sum job.
        jleft = propagated.select(
            F.col("node").alias("__n"), F.col("label").alias("__l")
        )
        jright = propagated.select(
            F.col("node").alias("__ln"), F.col("label").alias("__ll")
        )
        labels = (
            jleft.join(jright, F.col("__l") == F.col("__ln"))
            .select(F.col("__n").alias("node"), F.col("__ll").alias("label"))
            .localCheckpoint(eager=False)
        )
    else:
        # fail loudly: an unconverged exit would silently SPLIT real
        # clusters (multiple is_canonical keepers per true component),
        # corrupting the keep/drop list. The pointer jump settles a
        # component of diameter d in O(log d) rounds, and the
        # consecutive-propagate probe confirms it at most one round
        # later than the r13 post-jump probe did — the default 26 keeps
        # that probe's 25-round envelope. Reaching here means labels
        # still changed after max_iter rounds: raise max_iter for that
        # data.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(labels still changing)"
        )
    w_sz = F.count("*").over(Window.partitionBy("component"))
    return (
        out.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))
        .withColumn("component_size", w_sz.cast("long"))
        .withColumn("is_canonical", F.col("doc_id") == F.col("component"))
    )


def _components_oracle() -> str:
    return f"""
    WITH RECURSIVE mh_pairs AS (
      SELECT doc_a, doc_b FROM ({_minhash_oracle()})
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM mh_pairs
      UNION
      SELECT doc_b, doc_a FROM mh_pairs
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
      SELECT node, min(label) AS component FROM reach GROUP BY node
    )
    SELECT node AS doc_id, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS component_size,
           node = component AS is_canonical
    FROM comp
    """


@query("q_dedup_components", oracle=_components_oracle())
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS: connected components over
    the MinHash-verified pair graph, yielding the keep/drop list
    (component = min doc_id; is_canonical marks the keeper).

    The oracle computes the same fixpoint with a recursive CTE —
    min-label propagation and transitive-closure-minimum agree by
    definition of connectedness, so the hash checks the whole
    iterative loop including its convergence.
    """
    pairs = q_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs)


# --- corpus-level overlap: minhash similarity between SOURCES ---

#: signature width for the source-overlap estimate; standard error of
#: the Jaccard estimate is sqrt(J(1-J)/H) ≈ 0.06 at H=64, J=0.5
OVERLAP_HASHES = 64


def _mh_cols_sql(n_hashes: int = OVERLAP_HASHES) -> str:
    """Oracle twin of _gram_min_cols — the ONE definition of the
    salted-min signature SQL (shared by q_source_overlap and
    q_minhash_error; a hash-width/salt change edits exactly here and
    _gram_min_cols)."""
    return ", ".join(
        f"min(CAST(('0x' || substr(md5('s{i}:' || gram), 1, 15)) AS BIGINT)) AS m{i}"
        for i in range(n_hashes)
    )


def _eq_terms_sql(n_hashes: int = OVERLAP_HASHES) -> str:
    """Oracle-side matching-minima count between aliases a and b."""
    return " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(n_hashes)
    )


def _sig_split(sigs: DataFrame, side: str, n_hashes: int = OVERLAP_HASHES) -> DataFrame:
    """Rename a signature table's m{i} columns to {side}{i} for a
    self-join; every other column passes through unchanged. Pair it
    with :func:`_sig_matches` for the matching-minima count."""
    sig_names = {f"m{i}" for i in range(n_hashes)}
    return sigs.select(
        *[c for c in sigs.columns if c not in sig_names],
        *[F.col(f"m{i}").alias(f"{side}{i}") for i in range(n_hashes)],
    )


def _sig_matches(n_hashes: int = OVERLAP_HASHES) -> Column:
    """Matching-minima count between the a{i}/b{i} column families
    (the Spark twin of _eq_terms_sql)."""
    return sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )


def _gram_min_cols(n_hashes: int = OVERLAP_HASHES) -> list[Column]:
    """Per-salt minima over the group's grams as fixed-width BIGINTs
    (first 15 md5 hex digits), so all H aggregates stay inside ONE
    HashAggregate — min over a string buffer would silently fall back
    to SortAggregate (same constraint as resolution.resolve_agg)."""
    return [
        F.min(
            F.conv(F.substring(F.md5(F.concat(F.lit(f"s{i}:"), F.col("gram"))), 1, 15), 16, 10).cast(
                "long"
            )
        ).alias(f"m{i}")
        for i in range(n_hashes)
    ]


@query(
    "q_source_overlap",
    oracle=(
        lambda mh_cols, eq_terms: f"""
    WITH w AS (
      SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    g AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(range(1, greatest(len(words) - 1, 2)),
                    i -> array_to_string(words[i:i+2], ' ')))) AS gram
      FROM w
    ),
    sigs AS (
      SELECT source, count(*) AS n_grams, {mh_cols}
      FROM g GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           a.n_grams AS n_grams_a, b.n_grams AS n_grams_b,
           floor((({eq_terms}) * 1.0 / {OVERLAP_HASHES}) * 10000 + 0.5) / 10000
             AS est_jaccard
    FROM sigs a JOIN sigs b ON a.source < b.source
    """
    )(_mh_cols_sql(), _eq_terms_sql()),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level overlap matrix: minhash-estimated word-3-gram
    Jaccard between every pair of sources — the dump-vs-dump
    similarity scan that decides which corpus slices deserve
    cross-slice dedup at all (近-identical dumps first).

    Scale shape: ONE distinct over (source, gram) — keyed on the
    gram-bearing pair, spreads evenly — then H=64 fixed-width min()
    aggregates per source in a single HashAggregate, leaving a
    #sources-row table whose pairwise join is dim-sized (190 rows at
    20 sources). Nothing pairwise ever touches gram-level data: the
    estimate costs O(corpus) + O(sources²), the 100 TB-safe shape.
    The estimator (fraction of matching minima) is deterministic in
    both engines — md5 is fixed, minima are exact integers.
    """
    docs = load(spark, sf_dir, "documents")
    words = F.array_remove(F.split(F.col("text"), " "), "")
    grams = F.array_distinct(sliding_join(F.col("words"), 3))
    g = (
        docs.select("source", words.alias("words"))
        .select("source", F.explode(grams).alias("gram"))
        .distinct()
    )
    sigs = g.groupBy("source").agg(
        F.count("*").alias("n_grams"), *_gram_min_cols()
    )
    a = _sig_split(
        sigs.select(
            F.col("source").alias("source_a"),
            F.col("n_grams").alias("n_grams_a"),
            *[f"m{i}" for i in range(OVERLAP_HASHES)],
        ),
        "a",
    )
    b = _sig_split(
        sigs.select(
            F.col("source").alias("source_b"),
            F.col("n_grams").alias("n_grams_b"),
            *[f"m{i}" for i in range(OVERLAP_HASHES)],
        ),
        "b",
    )
    matches = _sig_matches()
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "n_grams_a",
            "n_grams_b",
            rnd(matches * 1.0 / OVERLAP_HASHES, 4).alias("est_jaccard"),
        )
    )


# --- incremental dedup: a NEW batch against the existing corpus ---

#: deterministic batch split for the driver query: bucket 0 of 5 ⇒
#: ~20% of documents play the newly-ingested batch, the rest the
#: historical corpus
INCR_SALT = "incr-v1"
INCR_MOD = 5


def batch_near_dup_drops(docs: DataFrame, verify: float = JACCARD_VERIFY) -> DataFrame:
    """doc_ids that LOSE a within-batch near-dup collapse: minhash
    band-bucketed self-pairs (``doc_a < doc_b``), exact-Jaccard
    verify, connected components, keep the min doc_id per component.

    Built for the streaming dedup writer (streaming/pipeline.py):
    two non-identical near-copies arriving in the SAME micro-batch
    would otherwise both classify against history only and both be
    accepted. The input is one micro-batch, so the component loop
    runs over a batch-sized edge set — bounded by arrival rate, not
    corpus size.
    """
    ws_df = docs.select("doc_id", word_set(F.col("text")).alias("ws"))
    cand = band_pairs(ws_df, "doc_id", _band_sigs(F.col("ws"))).select(
        F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b")
    )
    a_ws = ws_df.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"))
    b_ws = ws_df.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"))
    jac = F.size(F.array_intersect("ws_a", "ws_b")) / F.size(F.array_union("ws_a", "ws_b"))
    pairs = (
        cand.join(a_ws, "doc_a")
        .join(b_ws, "doc_b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= verify)
        .select("doc_a", "doc_b")
    )
    return (
        connected_components(pairs)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )


def dedup_against_corpus(
    new_docs: DataFrame, history: DataFrame, verify: float = JACCARD_VERIFY
) -> DataFrame:
    """Classify each newly-ingested document against an existing
    corpus: ``exact`` (canonical word-set fingerprint already in
    history), ``near`` (shares a minhash band bucket with a history
    document and exact Jaccard ≥ ``verify``), else ``unique`` — the
    daily-ingest production shape, where dedup runs new-vs-all
    WITHOUT ever re-pairing history against itself.

    Scale shape: the exact stage is one fingerprint equi-join (new
    side is a day's batch, history side is fingerprint+band columns
    only — at 100 TB these are the precomputed index tables the
    writer maintains, not a re-derivation). The near stage joins band
    signatures new⋈history — candidates are bucket-local exactly as
    in q_dedup_minhash, and only the (tiny) verified pair set is
    re-joined for tie-broken match selection. History pairs never
    form; cost is O(new × bands) plus verification.

    ``prep`` repartitions by doc_id BEFORE the fingerprint/minhash
    projections (10× probe finding, same as q_containment): the
    word-set and 18-hash signature expressions are interpreted
    higher-order functions costing ~ms/doc, so their parallelism
    must follow cores, not scan byte-splits — and the exchange
    makes each side's prep a ReusedExchange instead of being
    recomputed by the exact-join and band-join branches separately.
    """

    def prep(docs: DataFrame) -> DataFrame:
        n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        ws = word_set(F.col("text"))
        return docs.repartition(n_part, "doc_id").select(
            "doc_id",
            ws.alias("ws"),
            F.md5(F.concat_ws(" ", F.array_sort(ws))).alias("fp"),
        )

    n, h = prep(new_docs), prep(history)

    exact = (
        n.select("doc_id", "fp")
        .join(h.select(F.col("doc_id").alias("h_doc"), "fp"), "fp")
        .groupBy("doc_id")
        .agg(F.min("h_doc").alias("matched_doc"))
        .withColumn("dup_kind", F.lit("exact"))
        .withColumn("jaccard", F.lit(1.0))
    )

    remaining = n.join(exact.select("doc_id"), "doc_id", "left_anti")

    pair_ids = band_pairs(remaining, "doc_id", _band_sigs(F.col("ws")), right=h).select(
        F.col("doc_id_a").alias("doc_id"), F.col("doc_id_b").alias("h_doc")
    )
    cand = pair_ids.join(remaining.select("doc_id", "ws"), "doc_id").join(
        h.select(F.col("doc_id").alias("h_doc"), F.col("ws").alias("h_ws")), "h_doc"
    )
    inter = F.size(F.array_intersect("ws", "h_ws"))
    union = F.size(F.array_union("ws", "h_ws"))
    verified = cand.withColumn("jac", inter / union).filter(F.col("jac") >= verify)
    near_pick = verified.groupBy("doc_id").agg(F.min("h_doc").alias("matched_doc"))
    near = (
        near_pick.join(
            verified.select("doc_id", F.col("h_doc").alias("matched_doc"), "jac"),
            ["doc_id", "matched_doc"],
        )
        .select(
            "doc_id",
            "matched_doc",
            F.lit("near").alias("dup_kind"),
            rnd(F.col("jac"), 4).alias("jaccard"),
        )
    )

    classified = exact.select("doc_id", "matched_doc", "dup_kind", "jaccard").unionByName(
        near
    )
    return (
        n.select("doc_id")
        .join(classified, "doc_id", "left")
        .withColumn("dup_kind", F.coalesce("dup_kind", F.lit("unique")))
    )


def _incremental_oracle() -> str:
    mh_cols = ", ".join(
        f"list_min(list_transform(ws, t -> md5('{i}:' || t))) AS mh{i}"
        for i in range(N_HASHES)
    )
    band_exprs = ", ".join(
        "'{}' || '|' || {}".format(
            b,
            " || '|' || ".join(f"mh{ROWS_PER_BAND * b + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(N_BANDS)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, {_WORD_SET_SQL} AS ws,
             md5(array_to_string(list_sort({_WORD_SET_SQL}), ' ')) AS fp,
             CAST(('0x' || substr(md5('{INCR_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 % {INCR_MOD} AS b
      FROM documents
    ),
    n AS (SELECT * FROM d WHERE b = 0),
    h AS (SELECT * FROM d WHERE b <> 0),
    exact AS (
      SELECT n.doc_id, min(h.doc_id) AS matched_doc,
             'exact' AS dup_kind, 1.0 AS jaccard
      FROM n JOIN h ON n.fp = h.fp GROUP BY n.doc_id
    ),
    rem AS (SELECT * FROM n WHERE doc_id NOT IN (SELECT doc_id FROM exact)),
    nmh AS (SELECT doc_id, ws, {mh_cols} FROM rem),
    hmh AS (SELECT doc_id, ws, {mh_cols} FROM h),
    nsig AS (SELECT doc_id, ws, unnest([{band_exprs}]) AS sig FROM nmh),
    hsig AS (SELECT doc_id AS h_doc, ws AS h_ws, unnest([{band_exprs}]) AS sig FROM hmh),
    cand AS (
      SELECT DISTINCT a.doc_id, a.ws, b.h_doc, b.h_ws
      FROM nsig a JOIN hsig b ON a.sig = b.sig
    ),
    verified AS (
      SELECT doc_id, h_doc,
             len(list_intersect(ws, h_ws)) * 1.0
               / len(list_distinct(list_concat(ws, h_ws))) AS jac
      FROM cand
      WHERE len(list_intersect(ws, h_ws)) * 1.0
              / len(list_distinct(list_concat(ws, h_ws))) >= {JACCARD_VERIFY}
    ),
    near AS (
      SELECT v.doc_id, v.matched_doc, 'near' AS dup_kind,
             floor(v2.jac * 10000 + 0.5) / 10000 AS jaccard
      FROM (SELECT doc_id, min(h_doc) AS matched_doc FROM verified GROUP BY doc_id) v
      JOIN verified v2 ON v2.doc_id = v.doc_id AND v2.h_doc = v.matched_doc
    ),
    classified AS (SELECT * FROM exact UNION ALL SELECT * FROM near)
    SELECT n.doc_id, c.matched_doc,
           COALESCE(c.dup_kind, 'unique') AS dup_kind, c.jaccard
    FROM n LEFT JOIN classified c ON n.doc_id = c.doc_id
    """


@query("q_dedup_incremental", oracle=_incremental_oracle())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch-vs-corpus) dedup over a deterministic
    20/80 split of ``documents``: every 'new' document classified
    exact / near / unique against the 'historical' 80%, with the
    matched history document and verified Jaccard. The production
    ingest shape — history is probed, never re-paired with itself.
    """
    docs = load(spark, sf_dir, "documents")
    split = F.pmod(sample_bucket(F.col("doc_id"), INCR_SALT), F.lit(INCR_MOD))
    return dedup_against_corpus(
        new_docs=docs.filter(split == 0), history=docs.filter(split != 0)
    )


# --- leakage-free split: near-dup clusters stay on one side ---

LEAK_SALT = "leakfree-v1"
LEAK_HOLDOUT_BP = 1000  # 10% holdout, in RESOLUTION basis points


@query(
    "q_leakage_split",
    oracle=f"""
    WITH RECURSIVE mh_pairs AS (
      SELECT doc_a, doc_b FROM ({_minhash_oracle()})
    ),
    d AS (
      SELECT doc_id, md5(array_to_string(list_sort({_WORD_SET_SQL}), ' ')) AS fp
      FROM documents
    ),
    grp AS (SELECT fp, min(doc_id) AS rid FROM d GROUP BY fp),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM mh_pairs
      UNION
      SELECT doc_b, doc_a FROM mh_pairs
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
    doc_comp AS (
      SELECT d.doc_id, COALESCE(c.component, g.rid) AS component
      FROM d JOIN grp g ON d.fp = g.fp
      LEFT JOIN comp c ON g.rid = c.node
    ),
    tagged AS (
      SELECT doc_id, component,
             CASE WHEN CAST(('0x' || substr(md5('{LEAK_SALT}:'
                        || CAST(component AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 10000 < {LEAK_HOLDOUT_BP}
                  THEN 'holdout' ELSE 'train' END AS split
      FROM doc_comp
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT component) AS BIGINT) AS n_components,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM tagged GROUP BY split
    """,
)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free holdout split: membership is decided by hashing
    the document's DUPLICATE-CLUSTER id (exact word-set group →
    near-dup connected component), so a holdout document's exact and
    near copies land on the same side — the split a naive per-doc
    hash (q_holdout_split) cannot guarantee, and the one that
    actually prevents eval contamination in a duplicated corpus.

    Composition of verified pieces: exact-dup grouping, minhash pair
    graph, connected components, hash splitting — one pipeline,
    summary grain (split → doc/component counts + id range).
    """
    from .sampling import RESOLUTION as _RES
    from .sampling import sample_bucket

    docs = load(spark, sf_dir, "documents")
    d = docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    grp = d.groupBy("fp").agg(F.min("doc_id").alias("rid"))
    pairs = q_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("node"), "component"
    )
    doc_comp = (
        d.join(grp, "fp")
        .join(comp, F.col("rid") == F.col("node"), "left")
        .select(
            "doc_id", F.coalesce("component", F.col("rid")).alias("component")
        )
    )
    split = F.when(
        sample_bucket(F.col("component"), LEAK_SALT) < LEAK_HOLDOUT_BP, "holdout"
    ).otherwise("train")
    return (
        doc_comp.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("component").alias("n_components"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --- LSH blocking-quality measurement -----------------------------------

REC_SALT = "lshrecall-v1"
REC_SAMPLE_BP = 2000  # 20% doc sample, in RESOLUTION basis points


def _lsh_recall_oracle() -> str:
    mh_cols = ", ".join(
        f"list_min(list_transform(ws, t -> md5('{i}:' || t))) AS mh{i}"
        for i in range(N_HASHES)
    )
    band_exprs = ", ".join(
        "'{}' || '|' || {}".format(
            b,
            " || '|' || ".join(f"mh{ROWS_PER_BAND * b + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(N_BANDS)
    )
    jac = (
        "len(list_intersect(a.ws, b.ws)) * 1.0"
        " / len(list_distinct(list_concat(a.ws, b.ws)))"
    )
    return f"""
    WITH s AS (
      SELECT doc_id, {_WORD_SET_SQL} AS ws FROM documents
      WHERE CAST(('0x' || substr(md5('{REC_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000 < {REC_SAMPLE_BP}
    ),
    reps AS (
      SELECT md5(array_to_string(list_sort(ws), ' ')) AS fp,
             min(doc_id) AS rid, arg_min(ws, doc_id) AS ws
      FROM s GROUP BY fp
    ),
    truth AS (
      SELECT a.rid AS ra, b.rid AS rb
      FROM reps a JOIN reps b ON a.rid < b.rid
      WHERE {jac} >= {JACCARD_VERIFY}
    ),
    mh AS (SELECT rid, ws, {mh_cols} FROM reps),
    sigs AS (SELECT rid, ws, unnest([{band_exprs}]) AS sig FROM mh),
    found AS (
      SELECT DISTINCT a.rid AS ra, b.rid AS rb
      FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.rid < b.rid
      WHERE {jac} >= {JACCARD_VERIFY}
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s)      AS n_sample_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM reps)   AS n_reps,
           (SELECT CAST(count(*) AS BIGINT) FROM truth)  AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM found)  AS n_found,
           floor((SELECT count(*) FROM found) * 1.0
                 / greatest((SELECT count(*) FROM truth), 1) * 10000 + 0.5) / 10000
             AS recall
    """


@query("q_lsh_recall", oracle=_lsh_recall_oracle())
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit for the minhash LSH parameters: on a
    deterministic 20% doc-hash sample, compare the banded candidate
    pipeline (same 18-sig / 3×6-band construction as
    q_dedup_minhash, Jaccard-verified) against BRUTE-FORCE ground
    truth, reporting recall — the measured answer to "are 3 bands of
    6 rows enough at this corpus's similarity distribution?", the
    dial a 100 TB dedup run tunes before committing the full pass.

    The brute-force truth join is quadratic BY DESIGN and therefore
    runs only on the bounded sample (the rate is a basis-point
    constant here; a production harness would size it to a fixed
    absolute pair budget). Identical word sets collapse to one rep
    first, exactly as the production path does, so recall measures
    the probabilistic band behavior, not the trivial identical-set
    collisions.
    """
    docs = load(spark, sf_dir, "documents")
    sample = docs.filter(sample_bucket(F.col("doc_id"), REC_SALT) < REC_SAMPLE_BP)
    ws = word_set(F.col("text"))
    d = sample.select(
        "doc_id",
        ws.alias("ws"),
        F.md5(F.concat_ws(" ", F.array_sort(ws))).alias("fp"),
    )
    reps = d.groupBy("fp").agg(
        F.min("doc_id").alias("rid"), F.min_by("ws", "doc_id").alias("ws")
    )
    a = reps.select(F.col("rid").alias("ra"), F.col("ws").alias("wsa"))
    b = reps.select(F.col("rid").alias("rb"), F.col("ws").alias("wsb"))
    jac = F.size(F.array_intersect("wsa", "wsb")) / F.size(F.array_union("wsa", "wsb"))
    truth = (
        a.join(b, F.col("ra") < F.col("rb"))
        .filter(jac >= JACCARD_VERIFY)
        .select("ra", "rb")
    )
    found = (
        band_pairs(reps, "rid", _band_sigs(F.col("ws")))
        .select(F.col("rid_a").alias("ra"), F.col("rid_b").alias("rb"))
        .join(a, "ra")
        .join(b, "rb")
        .filter(jac >= JACCARD_VERIFY)
        .select("ra", "rb")
    )
    n_sample = sample.agg(F.count("*").alias("n_sample_docs"))
    n_reps = reps.agg(F.count("*").alias("n_reps"))
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_found = found.agg(F.count("*").alias("n_found"))
    return (
        n_sample.crossJoin(F.broadcast(n_reps))
        .crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_found))
        .select(
            "n_sample_docs",
            "n_reps",
            "n_truth",
            "n_found",
            rnd(
                F.col("n_found") / F.greatest(F.col("n_truth"), F.lit(1)), 4
            ).alias("recall"),
        )
    )


# --- estimator-quality audit: minhash Jaccard vs exact, per band ---

#: deterministic FIXED-SIZE sample for the estimator audit: docs
#: ordered by (hash-bucket, doc_id), first MH_ERR_SAMPLE taken. A
#: fixed COUNT (not a fixed fraction) keeps the all-pairs stage at
#: ~2k pairs at EVERY corpus size — the audit needs a stable MAE,
#: never corpus-fraction coverage.
MH_ERR_SALT = "mherr-v1"
MH_ERR_SAMPLE = 64


def _mh_err_oracle() -> str:
    bucket = (
        f"CAST(('0x' || substr(md5('{MH_ERR_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % 10000"
    )
    from ..functions.stable import oracle_rnd

    return f"""
    WITH sample_docs AS (
      SELECT doc_id, text FROM documents
      ORDER BY {bucket}, doc_id LIMIT {MH_ERR_SAMPLE}
    ),
    g AS (
      SELECT doc_id, unnest({_WORD_SET_SQL}) AS gram FROM sample_docs
    ),
    sigs AS (
      SELECT doc_id, count(*) AS n_words, {_mh_cols_sql()} FROM g GROUP BY doc_id
    ),
    common AS (
      SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS n_common
      FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             ({_eq_terms_sql()}) * 1.0 / {OVERLAP_HASHES} AS est_j,
             coalesce(c.n_common, 0) * 1.0
               / (a.n_words + b.n_words - coalesce(c.n_common, 0)) AS exact_j
      FROM sigs a
      JOIN sigs b ON a.doc_id < b.doc_id
      LEFT JOIN common c ON c.da = a.doc_id AND c.db = b.doc_id
    ),
    scored AS (
      SELECT floor(exact_j * 10) / 10 AS band,
             {oracle_rnd('abs(est_j - exact_j)', 4)} AS err
      FROM pairs
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor((CAST(sum(CAST(err AS DECIMAL(28,4))) AS DOUBLE)
                  / count(*)) * 10000 + 0.5) / 10000 AS mae
    FROM scored GROUP BY band
    """


@query("q_minhash_error", oracle=_mh_err_oracle())
def q_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit: on a deterministic fixed-size sample
    (64 docs by hash order), compare the 64-hash minhash Jaccard
    ESTIMATE against the exact word-set Jaccard for every sample
    pair, rolled up as mean absolute error per exact-similarity band
    (width 0.1). The sibling of q_lsh_recall (blocking recall),
    q_knn_recall (ANN recall), and q_pq_recall (quantization
    quality): it measures whether the signature width the dedup
    estimators rely on actually delivers its sqrt(J(1-J)/H) ≈ 0.06
    error bar on THIS corpus — "measure, don't guess". Measured
    MAE 0.02-0.07 across bands and SFs, inside the bound.

    Scale shape: the sample is a FIXED COUNT (TakeOrdered over the
    doc-hash — one pass, no full sort), so signatures, word sets,
    and the all-pairs stage are constant-sized (~2k pairs) at any
    corpus scale; the exact-Jaccard common counts come from a
    word-keyed equi-join of the sample against itself.
    """
    docs = load(spark, sf_dir, "documents")
    sample = (
        docs.select(
            "doc_id",
            "text",
            sample_bucket(F.col("doc_id"), MH_ERR_SALT).alias("__b"),
        )
        .orderBy("__b", "doc_id")
        .limit(MH_ERR_SAMPLE)
        .drop("__b")
    )
    g = sample.select(
        "doc_id", F.explode(word_set(F.col("text"))).alias("gram")
    )
    sigs = g.groupBy("doc_id").agg(
        F.count("*").alias("n_words"), *_gram_min_cols()
    )
    a = _sig_split(
        sigs.select(
            F.col("doc_id").alias("da"),
            F.col("n_words").alias("na"),
            *[f"m{i}" for i in range(OVERLAP_HASHES)],
        ),
        "a",
    )
    b = _sig_split(
        sigs.select(
            F.col("doc_id").alias("db"),
            F.col("n_words").alias("nb"),
            *[f"m{i}" for i in range(OVERLAP_HASHES)],
        ),
        "b",
    )
    ga = g.select(F.col("doc_id").alias("da"), "gram")
    gb = g.select(F.col("doc_id").alias("db"), "gram")
    common = (
        ga.join(gb, "gram")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("n_common"))
    )
    pairs = (
        a.join(F.broadcast(b), F.col("da") < F.col("db"))
        .join(common, ["da", "db"], "left")
        .select(
            (_sig_matches() * 1.0 / OVERLAP_HASHES).alias("est_j"),
            (
                F.coalesce("n_common", F.lit(0))
                * 1.0
                / (F.col("na") + F.col("nb") - F.coalesce("n_common", F.lit(0)))
            ).alias("exact_j"),
        )
    )
    scored = pairs.select(
        (F.floor(F.col("exact_j") * 10) / 10).alias("band"),
        rnd(F.abs(F.col("est_j") - F.col("exact_j")), 4).alias("err"),
    )
    return scored.groupBy("band").agg(
        F.count("*").alias("n_pairs"),
        (
            F.floor(
                (F.sum(F.col("err").cast("decimal(28,4)")).cast("double") / F.count("*"))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("mae"),
    )
