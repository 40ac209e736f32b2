"""Cache hygiene of the streaming corpus funnels: many micro-batches
share one long-lived driver session, so a foreachBatch body must
leave no frame registered in Spark's CacheManager — neither after a
committed batch nor after a batch whose history read raised — and a
``materialize.cached`` scope releases its frames on every exit path."""

from __future__ import annotations

import pytest

from football_data_pipeline_spark.functions.materialize import cached
from football_data_pipeline_spark.operators import multimodal
from football_data_pipeline_spark.operators.multimodal import encode_ppm, hash_near_dup
from football_data_pipeline_spark.sources import snapshots
from football_data_pipeline_spark.streaming import vectors
from football_data_pipeline_spark.streaming.cdc_stream import cdc_snapshot_writer
from football_data_pipeline_spark.streaming.mediadedup import (
    media_curation_snapshot_writer,
    media_dedup_snapshot_writer,
)
from football_data_pipeline_spark.streaming.pipeline import (
    curation_batch_writer,
    dedup_snapshot_writer,
    substring_trim_snapshot_writer,
)
from football_data_pipeline_spark.streaming.supersede import (
    keep_best_snapshot_writer,
)
from football_data_pipeline_spark.streaming.vectors import (
    vector_ingest_snapshot_writer,
)

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
OTHER = "totally different words about football odds and many more tokens"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _doc_batches(spark):
    # batch 1 probes a non-empty history: an exact copy, a better
    # near copy (supersedes under keep-best) and a fresh doc
    return [
        _docs(spark, [(1, BASE), (2, BASE + " extraword"), (3, OTHER)]),
        _docs(spark, [(10, BASE), (11, BASE + " sludge"), (12, OTHER + " x")]),
    ]


def _image(seed: int) -> bytes:
    rgb = bytearray()
    for y in range(16):
        for x in range(16):
            v = (seed * 31 + y * 16 + x * 7) % 200 + 20
            rgb += bytes((v, v, v))
    return encode_ppm(16, 16, bytes(rgb))


def _media_batches(spark):
    schema = "asset_id long, kind string, payload binary"
    return [
        spark.createDataFrame([(1, "image", _image(3)), (2, "image", _image(3))], schema),
        spark.createDataFrame([(3, "image", _image(3)), (4, "gif", b"x")], schema),
    ]


def _vector_batches(spark):
    def block(start, scale=1.0):
        return [scale if start <= i < start + 8 else 0.0 for i in range(64)]

    schema = "vec_id long, embedding array<float>"
    return [
        spark.createDataFrame([(1, block(0)), (2, block(0, 0.5))], schema),
        spark.createDataFrame([(3, block(0, 2.0)), (4, block(8))], schema),
    ]


def _cdc_batches(spark):
    schema = "k long, seq long, op string, v string"
    return [
        spark.createDataFrame([(1, 10, "U", "a"), (2, 10, "U", "b")], schema),
        spark.createDataFrame([(2, 20, "D", None), (1, 5, "U", "stale")], schema),
    ]


FUNNELS = {
    "dedup": (dedup_snapshot_writer, _doc_batches),
    "curation": (curation_batch_writer, _doc_batches),
    "substring_trim": (substring_trim_snapshot_writer, _doc_batches),
    "keep_best": (keep_best_snapshot_writer, _doc_batches),
    "media_dedup": (media_dedup_snapshot_writer, _media_batches),
    "media_curation": (media_curation_snapshot_writer, _media_batches),
    "vector_ingest": (vector_ingest_snapshot_writer, _vector_batches),
    "cdc": (
        lambda root: cdc_snapshot_writer(root, "k", "seq", "op", ["v"]),
        _cdc_batches,
    ),
}


@pytest.mark.parametrize("name", sorted(FUNNELS))
def test_funnel_batch_leaves_cache_manager_empty(spark, tmp_path, name):
    factory, batches = FUNNELS[name]
    write = factory(str(tmp_path / name))
    for batch_id, batch in enumerate(batches(spark)):
        spark.catalog.clearCache()
        write(batch, batch_id)
        assert _cache_empty(spark), batch_id


@pytest.mark.parametrize(
    "factory", [dedup_snapshot_writer, keep_best_snapshot_writer]
)
def test_failed_history_read_surfaces_and_releases_cache(
    spark, tmp_path, monkeypatch, factory
):
    """The history read raises after the collapsed batch is cached:
    the original error must surface (not an UnboundLocalError from
    the cleanup) and the cleanup must still unpersist everything."""

    def failing_read(*args, **kwargs):
        raise RuntimeError("history read failed")

    monkeypatch.setattr(snapshots, "read_table_before_batch", failing_read)
    write = factory(str(tmp_path / "root"))
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="history read failed"):
        write(_doc_batches(spark)[0], 0)
    assert _cache_empty(spark)


def test_nested_scope_releases_outer_when_inner_construction_raises(spark):
    def inner(outer):
        outer.count()  # the outer frame is materialized first
        raise RuntimeError("inner construction failed")

    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="inner construction failed"):
        with cached(spark.range(10)) as outer:
            with cached(inner(outer)):
                pass
    assert _cache_empty(spark)


def _failing_pair_plan(*args, **kwargs):
    raise RuntimeError("pair plan failed")


#: the pair plan raises after a first frame was cached: the vector
#: writer's ``pairs`` over its cached ``sigs``, and the hash table
#: ``hash_near_dup`` caches before it plans the pairs
PAIR_PLAN_FAILURES = {
    "vector_ingest": (
        vectors,
        "cosine_pairs",
        lambda spark, root: vector_ingest_snapshot_writer(root)(
            _vector_batches(spark)[0], 0
        ),
    ),
    "hash_near_dup": (
        multimodal,
        "_phash_pair_plan",
        lambda spark, root: hash_near_dup(spark.range(3)),
    ),
}


@pytest.mark.parametrize("name", sorted(PAIR_PLAN_FAILURES))
def test_failed_pair_plan_releases_cache(spark, tmp_path, monkeypatch, name):
    module, attr, run = PAIR_PLAN_FAILURES[name]
    monkeypatch.setattr(module, attr, _failing_pair_plan)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="pair plan failed"):
        run(spark, str(tmp_path / name))
    assert _cache_empty(spark)
