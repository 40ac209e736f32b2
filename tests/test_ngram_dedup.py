"""ngram_dedup_pairs kernel on a crafted corpus where both output
kinds are non-empty — the synthetic documents table's duplicates are
word-order-shuffled, so the sf-level oracle run exercises the banding
machinery but yields few shingle-level pairs.
"""

from __future__ import annotations

from football_data_pipeline_spark.operators.dedup import NGRAM_VERIFY, ngram_dedup_pairs

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green bottles stand on the wall near the old stone bridge "
    "under a pale winter sky waiting for the morning train"
)
# one trailing word changed: shingle overlap stays high (only the
# last 3 shingles differ) → a 'near' pair above the 0.8 verify
NEAR = BASE.rsplit(" ", 1)[0] + " bus"
OTHER = "completely different content about spark catalyst optimizer plans " * 3


def test_star_and_near_pairs(spark):
    rows = [
        # identical cluster of 3 → two star pairs anchored at doc 1
        (1, "en", "web", BASE),
        (2, "en", "web", BASE),
        (3, "en", "web", BASE),
        # near variant of the cluster rep → one 'near' pair (1, 4)
        (4, "en", "web", NEAR),
        # same text, different block → must NOT pair with docs 1-4
        (5, "en", "books", BASE),
        (6, "de", "web", BASE),
        # unrelated text, same block → no pair
        (7, "en", "web", OTHER),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    out = ngram_dedup_pairs(docs).collect()
    exact = sorted((r.doc_a, r.doc_b) for r in out if r.kind == "exact")
    near = [(r.doc_a, r.doc_b, r.jaccard) for r in out if r.kind == "near"]
    assert exact == [(1, 2), (1, 3)]
    assert [(a, b) for a, b, _ in near] == [(1, 4)]
    assert all(j >= NGRAM_VERIFY for *_, j in near)
    # star pairs are linear in cluster size: 3 identical docs → 2 rows
    assert len(exact) == 2


def test_blocking_respects_lang_source(spark):
    # two identical docs in different (lang, source) blocks → nothing
    rows = [(1, "en", "web", BASE), (2, "en", "books", BASE), (3, "fr", "web", BASE)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    assert ngram_dedup_pairs(docs).count() == 0


def test_contamination_overlap_flags_verbatim_copies(spark):
    """Decontamination on a crafted corpus: a train doc that quotes an
    eval doc verbatim is flagged; a paraphrase (shared words, different
    order) stays under threshold; disjoint text scores 0."""
    from football_data_pipeline_spark.operators.prep import contamination_overlap

    eval_docs = spark.createDataFrame(
        [(100, "ev", "the quick brown fox jumps over the lazy dog")],
        "doc_id long, source string, text string",
    )
    train = spark.createDataFrame(
        [
            # verbatim copy with a prefix: most 3-grams overlap
            (1, "tr", "breaking the quick brown fox jumps over the lazy dog"),
            # same words shuffled: word-level match, few shared 3-grams
            (2, "tr", "dog lazy the over jumps fox brown quick the"),
            # disjoint
            (3, "tr", "completely unrelated text about football data"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {r["doc_id"]: r for r in contamination_overlap(train, eval_docs).collect()}
    assert rows[1]["contaminated"] and rows[1]["overlap_ratio"] >= 0.7
    assert not rows[2]["contaminated"] and rows[2]["n_overlap"] <= 2
    assert rows[3]["n_overlap"] == 0 and rows[3]["overlap_ratio"] == 0.0


def test_repetition_flags_template_spam(spark):
    """Repetition metric on crafted text: looped boilerplate flags,
    natural prose does not."""
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.operators import textstats  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    # reuse the registered query's logic by calling the module fn on a
    # crafted docs frame via the same grams pipeline
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "buy now " * 50),                      # 1 distinct bigram dominates
            (2, "the quick brown fox jumps over a lazy dog near the riverbank"),
        ],
        "doc_id long, text string",
    )
    words = F.array_remove(F.split("text", " "), "")
    grams = docs.select("doc_id", words.alias("words")).select(
        "doc_id",
        F.explode(textstats._bigrams()).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "gram").count()
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("count").alias("n"),
        F.count("*").alias("d"),
        F.max("count").alias("t"),
    )
    rows = {r["doc_id"]: r for r in per_doc.collect()}
    # doc 1: 100 words → 99 bigrams, only 3 distinct ("buy now",
    # "now buy", trailing single "buy"→ none; actually "buy now"/"now buy")
    assert rows[1]["d"] <= 3 and rows[1]["t"] >= 49
    dup1 = 1 - rows[1]["d"] / rows[1]["n"]
    dup2 = 1 - rows[2]["d"] / rows[2]["n"]
    assert dup1 > textstats.REPETITION_THRESHOLD > dup2


def test_source_overlap_estimator_bounds(spark):
    """Minhash corpus-overlap estimate: identical corpora → 1.0,
    disjoint corpora → 0.0 (all 64 minima match / none match)."""
    from pyspark.sql import functions as F

    from football_data_pipeline_spark.operators.dedup import (
        OVERLAP_HASHES,
        _gram_min_cols,
    )

    docs = spark.createDataFrame(
        [
            ("a", "alpha beta gamma delta epsilon zeta"),
            ("b", "alpha beta gamma delta epsilon zeta"),   # identical to a
            ("c", "one two three four five six seven"),     # disjoint
        ],
        "source string, text string",
    )
    words = F.array_remove(F.split("text", " "), "")
    grams_expr = (
        "array_distinct(transform(sequence(1, greatest(size(words) - 2, 1)), "
        "i -> concat_ws(' ', slice(words, i, 3))))"
    )
    g = (
        docs.select("source", words.alias("words"))
        .select("source", F.explode(F.expr(grams_expr)).alias("gram"))
        .distinct()
    )
    sigs = {r["source"]: r for r in g.groupBy("source").agg(*_gram_min_cols()).collect()}
    same = sum(sigs["a"][f"m{i}"] == sigs["b"][f"m{i}"] for i in range(OVERLAP_HASHES))
    diff = sum(sigs["a"][f"m{i}"] == sigs["c"][f"m{i}"] for i in range(OVERLAP_HASHES))
    assert same == OVERLAP_HASHES and diff == 0


def test_new_ops_plan_shapes(spark):
    """Scale-guard plan asserts: decontaminate probes a BROADCAST eval
    set (no sort-merge join of train grams), and source_overlap's 64
    minima run in hash aggregation (BIGINT buffers — a string buffer
    would silently fall back to SortAggregate)."""
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    from .conftest import SF_DIR

    decon = QUERIES["q_decontaminate"].fn(spark, SF_DIR)
    plan = decon._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]

    overlap = QUERIES["q_source_overlap"].fn(spark, SF_DIR)
    plan2 = overlap._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan2
    assert "BroadcastNestedLoopJoin" in plan2 or "BroadcastHashJoin" in plan2


def test_winnowing_guarantee(spark):
    """The winnowing property: two documents sharing a contiguous run
    of w + k − 1 = 6 words must share at least one fingerprint;
    documents with no shared 3-gram share none."""
    from pyspark.sql import functions as F

    from football_data_pipeline_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
    )
    import football_data_pipeline_spark.all_queries  # noqa: F401

    shared_run = "one two three four five six"  # exactly w + k - 1 words
    docs = spark.createDataFrame(
        [
            (1, f"prefix words here {shared_run} suffix tail"),
            (2, f"other start {shared_run} different ending now"),
            (3, "completely unrelated vocabulary nothing common whatsoever"),
        ],
        "doc_id long, text string",
    )
    hashes = F.expr(
        f"transform(sequence(1, greatest(size(words) - {WINNOW_K - 1}, 1)), "
        f"i -> md5(concat_ws(' ', slice(words, i, {WINNOW_K}))))"
    )
    fps = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size(hashes) - {WINNOW_W - 1}, 1)), "
            f"i -> array_min(slice(hashes, i, {WINNOW_W})))"
        )
    )
    out = {
        r["doc_id"]: set(r["fps"])
        for r in docs.select(
            "doc_id", F.array_remove(F.split("text", " "), "").alias("words")
        )
        .select("doc_id", hashes.alias("hashes"))
        .select("doc_id", fps.alias("fps"))
        .collect()
    }
    assert out[1] & out[2], "shared 6-word run must yield a shared fingerprint"
    assert not (out[1] & out[3]) and not (out[2] & out[3])


def test_containment_catches_quoted_paragraph(spark, tmp_path, monkeypatch):
    """A short doc quoted verbatim inside a much larger one has low
    Jaccard but full containment — the asymmetric class
    q_containment exists to catch."""
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    para = " ".join(f"quoted{i}" for i in range(12))
    big = " ".join(f"filler{i}" for i in range(80)) + " " + para + " " + " ".join(
        f"more{i}" for i in range(80)
    )
    docs = spark.createDataFrame(
        [(1, para, "en", "s", len(para)), (2, big, "en", "s", len(big)),
         (3, "unrelated totally different words entirely", "en", "s", 42)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    rows = QUERIES["q_containment"].fn(spark, out).collect()
    pairs = {(r["inner_doc"], r["outer_doc"]): r["containment"] for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert not any(3 in p for p in pairs)
