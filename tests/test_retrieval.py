"""BM25: hand-computed scores on a tiny corpus, tf monotonicity,
length normalization, deterministic ties, and query selectivity.
The full algebra is oracle-checked as q_bm25_topk."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from football_data_pipeline_spark.operators.retrieval import (
    BM25_B,
    BM25_K1,
    bm25_scores,
    bm25_topk,
)

import pytest as _pytest_r14

# r14 slow tier: multi-minute e2e file — excluded from the default
# (driver-window) run by pytest.ini; the full suite (-m "") runs it.
pytestmark = _pytest_r14.mark.slow


def _py_bm25(corpus: dict[int, str], terms: list[str]) -> dict[int, float]:
    def rnd(x, k):
        return math.floor(x * 10**k + 0.5) / 10**k

    docs = {d: t.split() for d, t in corpus.items()}
    n = len(docs)
    total = sum(len(ws) for ws in docs.values())
    out = {}
    for d, ws in docs.items():
        dl = len(ws)
        s = 0.0
        for t in set(terms):
            tf = ws.count(t)
            if not tf:
                continue
            df = sum(1 for w2 in docs.values() if t in w2)
            idf = rnd(math.log((n - df + 0.5) / (df + 0.5) + 1.0), 6)
            ts = rnd(
                (idf * (tf * (BM25_K1 + 1.0)))
                / (
                    tf
                    + BM25_K1
                    * ((1.0 - BM25_B) + BM25_B * ((dl * n) / total))
                ),
                6,
            )
            s += ts
        if s:
            out[d] = round(s, 4)
    return out


CORPUS = {
    0: "spark runs fast and spark scales",
    1: "window functions rank rows",
    2: "merge upsert keyed rows fast",
    3: "nothing relevant here at all",
}
TERMS = ["spark", "fast", "window"]


def _df(spark):
    return spark.createDataFrame(
        [(d, t) for d, t in CORPUS.items()], "doc_id long, text string"
    )


def test_scores_match_python_reference(spark):
    got = {
        r.doc_id: r.score
        for r in bm25_scores(_df(spark), TERMS).collect()
    }
    want = _py_bm25(CORPUS, TERMS)
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d] - want[d]) < 1e-9, (d, got[d], want[d])


def test_unmatched_docs_absent_and_selectivity(spark):
    rows = {r.doc_id: r.n_matched for r in bm25_scores(_df(spark), TERMS).collect()}
    assert 3 not in rows  # no query term -> never scored
    assert rows[0] == 2 and rows[1] == 1 and rows[2] == 1


def test_topk_order_and_tie_determinism(spark):
    ranked = bm25_topk(_df(spark), TERMS, k=10).collect()
    assert [r.rank for r in ranked] == list(range(1, len(ranked) + 1))
    scores = [r.score for r in ranked]
    assert scores == sorted(scores, reverse=True)
    # exact ties (duplicate docs) break by doc_id ascending
    dup = spark.createDataFrame(
        [(1, "spark a b"), (2, "spark a b")], "doc_id long, text string"
    )
    r = bm25_topk(dup, ["spark"], k=2).collect()
    assert [x.doc_id for x in r] == [1, 2]


def test_tf_and_length_behavior(spark):
    # more tf -> higher score; longer doc (same tf) -> lower score
    df = spark.createDataFrame(
        [
            (1, "spark x"),
            (2, "spark spark x"),
            (3, "spark x y z w v u t s r q p"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.score for r in bm25_scores(df, ["spark"]).collect()}
    assert got[2] > got[1] > got[3]


def test_merge_index_df_fold_three_ways(spark):
    """df fold covers all term fates: both sides, history-only,
    delta-only — and the scalars add."""
    from football_data_pipeline_spark.operators.retrieval import (
        build_postings,
        index_stats,
        merge_index,
    )

    hist = spark.createDataFrame(
        [(1, "spark merge"), (2, "spark window")], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(3, "spark fast fast")], "doc_id long, text string"
    )
    post_h = build_postings(hist)
    dfs_h, stats_h = index_stats(post_h)
    delta_post, dfs_m, stats_m = merge_index(dfs_h, stats_h, delta)
    dfv = {r.term: r.df for r in dfs_m.collect()}
    assert dfv == {"spark": 3, "merge": 1, "window": 1, "fast": 1}
    st = stats_m.collect()[0].asDict()
    assert st["__n_docs"] == 3 and st["__total_len"] == 2 + 2 + 3
    # the delta postings carry tf and dl correctly (fast twice, dl 3)
    dp = {
        (d["doc_id"], d["term"]): (d["tf"], d["__dl"])
        for d in (r.asDict() for r in delta_post.collect())
    }
    assert dp[(3, "fast")] == (2, 3) and dp[(3, "spark")] == (1, 3)


def test_indexed_serving_equals_batch_scan(spark):
    """bm25_topk_indexed over (history postings + folded delta) must
    equal bm25_topk over the whole corpus — the q_bm25_indexed
    invariant, checked here on a hand-sized fixture."""
    from football_data_pipeline_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_postings,
        index_stats,
        merge_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark window merge"),
            (2, "spark spark fast"),
            (3, "window y z"),
            (4, "fast merge merge q"),
            (5, "unrelated words only"),
        ],
        "doc_id long, text string",
    )
    hist = docs.filter(F.col("doc_id") <= 3)
    delta = docs.filter(F.col("doc_id") > 3)
    post_h = build_postings(hist)
    dfs_h, stats_h = index_stats(post_h)
    delta_post, dfs_m, stats_m = merge_index(dfs_h, stats_h, delta)
    got = bm25_topk_indexed(
        post_h.unionByName(delta_post), dfs_m, stats_m,
        ["spark", "window", "merge", "fast"], 10,
    ).collect()
    want = bm25_topk(docs, ["spark", "window", "merge", "fast"], 10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_streaming_index_writer_serves_like_batch(spark, tmp_path):
    """Two batches through index_append_writer, then the serving
    path over read_index must equal bm25_topk over the union corpus
    — and a replayed batch changes nothing (snapshot_append_writer's
    watermark guards all three logs)."""
    from football_data_pipeline_spark.operators.retrieval import (
        bm25_topk_indexed,
        index_append_writer,
        read_index,
    )

    root = str(tmp_path / "idx")
    docs0 = spark.createDataFrame(
        [(1, "spark window merge"), (2, "spark spark fast"), (3, "window y z")],
        "doc_id long, text string",
    )
    docs1 = spark.createDataFrame(
        [(4, "fast merge merge q"), (5, "unrelated words only")],
        "doc_id long, text string",
    )
    w = index_append_writer(root)
    w(docs0, 0)
    w(docs1, 1)
    terms = ["spark", "window", "merge", "fast"]
    post, dfs, stats = read_index(spark, root)
    got = bm25_topk_indexed(post, dfs, stats, terms, 10).collect()
    want = bm25_topk(docs0.unionByName(docs1), terms, 10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # replay batch 1: all three logs' guards skip — identical serve
    w(docs1, 1)
    post, dfs, stats = read_index(spark, root)
    again = bm25_topk_indexed(post, dfs, stats, terms, 10).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in want]


def test_term_bucketed_layout_file_prunes(spark, tmp_path):
    """The materialized postings store is term-bucketed (VERDICT r11
    item 1): serving a query through read_index(terms=...) opens a
    STRICT SUBSET of the postings files — the manifest's per-file
    bucket min/max prunes at planning time — and the pruned serve is
    byte-identical to the unpruned one."""
    from football_data_pipeline_spark.operators.retrieval import (
        bm25_topk_indexed,
        index_append_writer,
        query_term_buckets,
        read_index,
    )

    root = str(tmp_path / "idx")
    docs0 = spark.createDataFrame(
        [(1, "spark window merge alpha"), (2, "spark spark fast beta")],
        "doc_id long, text string",
    )
    docs1 = spark.createDataFrame(
        [(3, "window gamma delta"), (4, "fast merge merge epsilon zeta")],
        "doc_id long, text string",
    )
    w = index_append_writer(root, n_term_buckets=16)
    w(docs0, 0)
    w(docs1, 1)
    terms = ["spark", "window"]
    # precondition: the fixture's vocabulary spans more buckets than
    # the query's terms (deterministic hash — holds or fails always)
    vocab = sorted(
        {t for d in (docs0, docs1) for r in d.collect() for t in r.text.split()}
    )
    assert len(query_term_buckets(spark, vocab, 16)) > len(
        query_term_buckets(spark, terms, 16)
    )
    post_all, dfs_all, stats_all = read_index(spark, root)
    post_pruned, dfs_pruned, stats_pruned = read_index(spark, root, terms)
    all_files = set(post_all.inputFiles())
    pruned_files = set(post_pruned.inputFiles())
    assert pruned_files < all_files  # strict subset: real file prune
    # the segment-dfs store prunes the same way (it is term-keyed
    # and bucketed identically)
    assert set(dfs_pruned.inputFiles()) < set(dfs_all.inputFiles())
    got = bm25_topk_indexed(post_pruned, dfs_pruned, stats_pruned, terms, 10)
    want = bm25_topk_indexed(post_all, dfs_all, stats_all, terms, 10)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    # ...and both equal the batch scan over the union corpus
    scan = bm25_topk(docs0.unionByName(docs1), terms, 10)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in scan.collect()
    ]


def test_phrase_match_semantics(spark):
    """Positional phrase search: exact adjacency, OVERLAPPING
    occurrences count separately, a repeated-word phrase aligns
    correctly, longer phrases chain, scattered (non-adjacent) terms
    never match, and phraseless docs are absent."""
    import pytest

    from football_data_pipeline_spark.operators.retrieval import (
        build_positional_postings,
        phrase_match,
    )

    docs = spark.createDataFrame(
        [
            (1, "fast merge x fast merge"),   # 2 occurrences
            (2, "a a a"),                     # "a a" overlaps: 2
            (3, "fast x merge"),              # scattered: no match
            (4, "one two three four"),        # 3-term phrase home
            (5, "merge fast"),                # reversed: no match
        ],
        "doc_id long, text string",
    )
    pos = build_positional_postings(docs)

    def got(phrase):
        return {
            r.doc_id: r.n_occurrences
            for r in phrase_match(pos, phrase).collect()
        }

    assert got(["fast", "merge"]) == {1: 2}
    assert got(["a", "a"]) == {2: 2}
    assert got(["two", "three", "four"]) == {4: 1}
    assert got(["three", "two"]) == {}
    with pytest.raises(ValueError, match="at least one term"):
        phrase_match(pos, [])


def test_near_match_semantics(spark):
    """Proximity search: adjacency is slop 1 (= phrase), wider slop
    is a strict superset, ORDER matters, every in-window pair counts,
    and out-of-window/absent terms never match."""
    import pytest

    from football_data_pipeline_spark.operators.retrieval import (
        build_positional_postings,
        near_match,
        phrase_match,
    )

    docs = spark.createDataFrame(
        [
            (1, "fast x merge"),              # distance 2
            (2, "fast merge"),                # adjacent
            (3, "merge x x fast"),            # reversed: no ordered pair
            (4, "fast x x x x merge"),        # distance 5: outside slop 4
            (5, "fast merge fast x merge"),   # pairs within 4: (0,1),(2,4),(0,4)
        ],
        "doc_id long, text string",
    )
    pos = build_positional_postings(docs)

    def got(slop):
        return {
            r.doc_id: r.n_pairs
            for r in near_match(pos, "fast", "merge", slop).collect()
        }

    assert got(1) == {2: 1, 5: 1}
    # slop 1 must equal the exact phrase semantics
    assert got(1) == {
        r.doc_id: r.n_occurrences
        for r in phrase_match(pos, ["fast", "merge"]).collect()
    }
    assert got(2) == {1: 1, 2: 1, 5: 2}
    assert got(4) == {1: 1, 2: 1, 5: 3}
    assert got(5) == {1: 1, 2: 1, 4: 1, 5: 3}
    with pytest.raises(ValueError, match="slop"):
        near_match(pos, "fast", "merge", 0)


def test_maintain_index_bucket_preserving(spark, tmp_path):
    """Index housekeeping must keep the layout's contract: fewer
    postings/dfs files after compaction, per-file bucket min == max
    preserved (the prune stays exact), the serve byte-identical, and
    the streaming replay guard alive through keep_latest=1. Plain
    maintain() on the postings log already does all of that (the
    compactor derives the directory-encoded bucket column from the
    manifest); maintain_index then finds the postings compact and
    packs the dfs log."""
    from football_data_pipeline_spark.operators.retrieval import (
        bm25_topk_indexed,
        index_append_writer,
        maintain_index,
        read_index,
    )
    from football_data_pipeline_spark.sources.snapshots import (
        maintain,
        read_manifest,
        snapshot_versions,
    )

    root = str(tmp_path / "idx")
    plog = f"{root}/postings_log"
    w = index_append_writer(root, n_term_buckets=8)
    batches = [
        spark.createDataFrame(
            [
                (i * 10 + 1, "spark window merge shared words"),
                (i * 10 + 2, f"spark fast batchword{i} extra"),
            ],
            "doc_id long, text string",
        )
        for i in range(3)
    ]
    for i, b in enumerate(batches):
        w(b, i)
    terms = ["spark", "window", "fast"]
    post, dfs, stats = read_index(spark, root, terms)
    pre = bm25_topk_indexed(post, dfs, stats, terms, 10).collect()
    pre_files = read_manifest(spark, plog).count()
    # plain maintain compacts the bucketed postings log in place
    plain = maintain(spark, plog, 100_000, f"{root}/plain_opt")
    assert plain["compacted_version"] is not None
    m = read_manifest(spark, plog)
    assert m.count() < pre_files
    for r in m.collect():
        assert r["p_term_bucket_8_min"] == r["p_term_bucket_8_max"]
    post1, dfs1, stats1 = read_index(spark, root, terms)
    got1 = bm25_topk_indexed(post1, dfs1, stats1, terms, 10).collect()
    assert [tuple(r) for r in got1] == [tuple(r) for r in pre]
    report = maintain_index(spark, root, target_rows=100_000, keep_latest=1)
    assert report["postings_log"]["compacted_version"] is None
    assert report["dfs_log"]["compacted_version"] is not None
    m = read_manifest(spark, plog)
    assert m.count() < pre_files
    # per-file bucket bounds stay EXACT — the prune contract
    for r in m.collect():
        if r["p_term_bucket_8_min"] is not None:
            assert r["p_term_bucket_8_min"] == r["p_term_bucket_8_max"]
    post2, dfs2, stats2 = read_index(spark, root, terms)
    post_all2, _, _ = read_index(spark, root)
    assert set(post2.inputFiles()) < set(post_all2.inputFiles())
    got = bm25_topk_indexed(post2, dfs2, stats2, terms, 10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in pre]
    # replay guard survives keep_latest=1 (watermark carried)
    n = len(snapshot_versions(spark, plog))
    w(batches[2], 2)
    assert len(snapshot_versions(spark, plog)) == n
    # and a genuinely NEW batch still lands
    w(batches[0].withColumn("doc_id", batches[0].doc_id + 1000), 3)
    post3, dfs3, stats3 = read_index(spark, root, terms)
    assert post3.count() > post2.count()


def test_zero_token_docs_count_in_index_stats(spark):
    """A corpus containing empty/whitespace-only docs must score
    IDENTICALLY through the materialized index and the batch scan
    (ADVICE r11): zero-token docs emit presence rows, so n_docs and
    the idf they feed match bm25_scores' count-every-doc stats."""
    from football_data_pipeline_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_postings,
        index_stats,
        merge_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark window merge"),
            (2, ""),
            (3, "   "),
            (4, "spark fast"),
            (5, "window only here"),
        ],
        "doc_id long, text string",
    )
    hist = docs.filter(F.col("doc_id") <= 3)
    delta = docs.filter(F.col("doc_id") > 3)
    post_h = build_postings(hist)
    dfs_h, stats_h = index_stats(post_h)
    # the empty docs land in n_docs/total_len exactly like the scan
    st = stats_h.collect()[0].asDict()
    assert st["__n_docs"] == 3 and st["__total_len"] == 3
    delta_post, dfs_m, stats_m = merge_index(
        dfs_h, stats_h, delta, existing_postings=post_h
    )
    terms = ["spark", "window", "merge", "fast"]
    got = bm25_topk_indexed(
        post_h.unionByName(delta_post), dfs_m, stats_m, terms, 10
    ).collect()
    want = bm25_topk(docs, terms, 10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_unmerge_index_equals_scan_of_remaining(spark):
    """Folding docs OUT of the index (unmerge_index) must serve
    identically to a from-scratch scan of the remaining corpus —
    including a zero-token doc subtracting from n_docs via its
    presence row, and a term whose df hits 0 vanishing entirely."""
    from football_data_pipeline_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_postings,
        index_stats,
        unmerge_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark window merge"),
            (2, "spark spark fast"),
            (3, ""),                      # zero-token: presence row
            (4, "window solo unique"),    # sole holder of some terms
            (5, "fast merge q"),
        ],
        "doc_id long, text string",
    )
    post = build_postings(docs)
    dfs, stats = index_stats(post)
    del_ids = spark.createDataFrame([(3,), (4,)], "doc_id long")
    del_post = post.join(del_ids, "doc_id", "left_semi")
    kept_post = post.join(del_ids, "doc_id", "left_anti")
    dfs_d, stats_d = unmerge_index(dfs, stats, del_post)
    # terms only doc 4 held are gone entirely (df hit 0)
    terms_left = {r.term for r in dfs_d.collect()}
    assert "solo" not in terms_left and "unique" not in terms_left
    # the zero-token doc subtracted from n_docs (presence row)
    st = stats_d.collect()[0].asDict()
    assert st["__n_docs"] == 3 and st["__total_len"] == 3 + 3 + 3
    terms = ["spark", "window", "merge", "fast"]
    got = bm25_topk_indexed(kept_post, dfs_d, stats_d, terms, 10).collect()
    want = bm25_topk(
        docs.filter(~F.col("doc_id").isin(3, 4)), terms, 10
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_unmerge_index_negative_guard_raises(spark):
    """Deleting postings that never entered the index drives df or
    the scalars negative — the in-plan guard must raise loudly, not
    silently skew idf."""
    import pytest

    from football_data_pipeline_spark.operators.retrieval import (
        build_postings,
        index_stats,
        unmerge_index,
    )

    hist = spark.createDataFrame(
        [(1, "spark merge")], "doc_id long, text string"
    )
    stranger = spark.createDataFrame(
        [(9, "spark spark never ingested words")], "doc_id long, text string"
    )
    post_h = build_postings(hist)
    dfs_h, stats_h = index_stats(post_h)
    dfs_d, stats_d = unmerge_index(dfs_h, stats_h, build_postings(stranger))
    with pytest.raises(Exception, match="went negative"):
        stats_d.collect()


def test_merge_index_rejects_doc_id_overlap(spark):
    """Folding a delta whose doc id already lives in the index must
    raise loudly (VERDICT r11 item 3) — silent df/N inflation is the
    one failure an at-least-once upstream would smuggle in."""
    import pytest

    from football_data_pipeline_spark.operators.retrieval import (
        build_postings,
        index_stats,
        merge_index,
    )

    hist = spark.createDataFrame(
        [(1, "spark merge"), (2, "spark window")], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(2, "spark replayed"), (3, "fresh doc")], "doc_id long, text string"
    )
    post_h = build_postings(hist)
    dfs_h, stats_h = index_stats(post_h)
    with pytest.raises(ValueError, match="already exist in"):
        merge_index(dfs_h, stats_h, delta, existing_postings=post_h)


def test_maintain_index_packs_null_presence_files(spark, tmp_path):
    """The presence-row default-partition files (one per micro-batch
    with a zero-token doc) must BIN-PACK as their own NULL group
    (ADVICE r12) — carrying them forever is a small-file leak the
    maintain loop could never drain — while the serve stays
    byte-identical and non-NULL per-file bounds stay exact."""
    from football_data_pipeline_spark.operators.retrieval import (
        bm25_topk_indexed,
        index_append_writer,
        maintain_index,
        read_index,
    )
    from football_data_pipeline_spark.sources.snapshots import read_manifest

    root = str(tmp_path / "idx")
    plog = f"{root}/postings_log"
    w = index_append_writer(root, n_term_buckets=8)
    for i in range(3):  # each batch carries one zero-token doc
        w(
            spark.createDataFrame(
                [(i * 10 + 1, "spark window merge"), (i * 10 + 2, "")],
                "doc_id long, text string",
            ),
            i,
        )
    bcol = "p_term_bucket_8"

    def null_files(m):
        return [
            r.file
            for r in m.collect()
            if r[f"{bcol}_min"] is None and r[f"{bcol}_max"] is None
        ]

    pre_null = null_files(read_manifest(spark, plog))
    assert len(pre_null) == 3  # one presence file per batch
    terms = ["spark", "window"]
    post, dfs, stats = read_index(spark, root, terms)
    pre = bm25_topk_indexed(post, dfs, stats, terms, 10).collect()
    maintain_index(spark, root, target_rows=100_000, keep_latest=1)
    m = read_manifest(spark, plog)
    assert len(null_files(m)) == 1  # NULL group packed
    for r in m.collect():  # non-NULL bounds stay exact (the prune)
        assert r[f"{bcol}_min"] == r[f"{bcol}_max"]
    post2, dfs2, stats2 = read_index(spark, root, terms)
    got = bm25_topk_indexed(post2, dfs2, stats2, terms, 10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in pre]


def test_pruned_read_empty_manifest_raises_cleanly(spark, tmp_path):
    """A committed-but-empty manifest (only empty batches ever
    committed) must raise read_snapshot's descriptive ValueError from
    the pruned-read fallback, not an AttributeError off a None row
    (ADVICE r12)."""
    import pytest

    from football_data_pipeline_spark.operators.retrieval import (
        _pruned_bucketed_read,
    )
    from football_data_pipeline_spark.sources.snapshots import commit_snapshot

    log = str(tmp_path / "empty_log")
    empty_manifest = spark.createDataFrame(
        [],
        "file string, n_rows long, "
        "p_term_bucket_8_min long, p_term_bucket_8_max long",
    )
    commit_snapshot(spark, log, empty_manifest, batch_id=0)
    with pytest.raises(ValueError, match="empty manifest"):
        _pruned_bucketed_read(spark, log, ["spark"])
