"""The standing BM25 index's serving read, default tier: a pruned
``read_index`` hashes the query's terms to buckets once and shares
that bucket set between the postings and the dfs log."""

from __future__ import annotations

from football_data_pipeline_spark.operators import retrieval


def test_read_index_hashes_query_terms_once(spark, tmp_path, monkeypatch):
    """Both term-bucketed logs use the same bucket count, so one
    ``query_term_buckets`` job serves the postings and the dfs prune;
    the pruned read still returns the query term's postings and df."""
    root = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "spark window merge"), (2, "spark fast"), (3, "window z")],
        "doc_id long, text string",
    )
    retrieval.index_append_writer(root)(docs, 0)
    calls = []
    buckets = retrieval.query_term_buckets

    def counted(*args):
        calls.append(args[1:])
        return buckets(*args)

    monkeypatch.setattr(retrieval, "query_term_buckets", counted)
    post, dfs, _ = retrieval.read_index(spark, root, ["spark"])
    assert len(calls) == 1
    assert {(r.term, r.df) for r in dfs.collect()} == {("spark", 2)}
    assert {r.doc_id for r in post.filter("term = 'spark'").collect()} == {1, 2}
