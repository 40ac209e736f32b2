"""payload_memo — the byte-bounded per-worker kernel memo (r14,
VERDICT r13 item 6): entry-count-bounded lru_cache keyed on raw
payload bytes could pin maxsize × multi-MB payloads per worker at
production payload sizes; the gate keeps oversized payloads out of
the cache without changing any result (the kernels are pure).

map_rows — the one Arrow runner the media kernels share: key
pass-through, one-row and many-row functions, extra arguments,
NULLs, batches with no output rows, and schema-named columns."""

from __future__ import annotations

from pyspark.sql import functions as F

from football_data_pipeline_spark.functions.memo import (
    PAYLOAD_MEMO_MAX_BYTES,
    map_rows,
    payload_memo,
)


def test_small_payloads_are_cached():
    calls = []

    @payload_memo(maxsize=8)
    def fn(payload: bytes) -> int:
        calls.append(payload)
        return len(payload)

    p = b"x" * 100
    assert fn(p) == 100
    assert fn(p) == 100
    assert len(calls) == 1  # second call served from the memo
    assert fn.cache_info().currsize == 1
    assert fn.cache_info().hits == 1


def test_oversized_payloads_bypass_the_cache():
    calls = []

    @payload_memo(maxsize=8, max_bytes=1000)
    def fn(payload: bytes) -> int:
        calls.append(payload)
        return len(payload)

    big = b"x" * 1001
    assert fn(big) == 1001
    assert fn(big) == 1001
    assert len(calls) == 2  # computed every call
    assert fn.cache_info().currsize == 0  # and NEVER cached
    # the boundary itself still caches (gate is strictly-greater)
    edge = b"y" * 1000
    assert fn(edge) == 1000 and fn(edge) == 1000
    assert fn.cache_info().currsize == 1
    assert len(calls) == 3


def test_extra_args_participate_in_the_key():
    @payload_memo(maxsize=8)
    def fn(payload: bytes, n: int) -> int:
        return len(payload) * n

    p = b"z" * 10
    assert fn(p, 2) == 20 and fn(p, 3) == 30
    assert fn.cache_info().currsize == 2


def test_every_payload_keyed_kernel_is_gated():
    """All eight payload-keyed media kernels must carry the byte
    gate (wrapper exposes cache_info + __wrapped__, and an oversized
    payload leaves the cache untouched). The two tuple-keyed synth
    caches (_pattern_plane_cached, _tone_payload) are deliberately
    NOT gated — their keys are small int tuples."""
    from football_data_pipeline_spark.operators.audio import _audio_stats_row
    from football_data_pipeline_spark.operators.audiodedup import _afp_row
    from football_data_pipeline_spark.operators.multimodal import (
        _image_stats_row,
        _img_quality_row,
        _phash_row,
    )
    from football_data_pipeline_spark.operators.video import (
        _sampled_frames,
        _video_stats_row,
    )
    from football_data_pipeline_spark.streaming.mediadedup import _vfp_rows

    one_arg = [
        _audio_stats_row,
        _afp_row,
        _image_stats_row,
        _img_quality_row,
        _phash_row,
        _video_stats_row,
    ]
    big = b"\0" * (PAYLOAD_MEMO_MAX_BYTES + 1)
    for fn in one_arg:
        assert callable(fn.cache_info) and hasattr(fn, "__wrapped__"), fn
        before = fn.cache_info().currsize
        fn(big)  # undecodable junk: kernels return their failure row
        assert fn.cache_info().currsize == before, fn
    for fn in (_sampled_frames, _vfp_rows):
        assert callable(fn.cache_info) and hasattr(fn, "__wrapped__"), fn
        before = fn.cache_info().currsize
        fn(big, 4)
        assert fn.cache_info().currsize == before, fn


# map_rows row functions are defined inside each test: cloudpickle
# ships them by value, so the workers need not import this module


def test_map_rows_one_row_function_with_extra_args_and_nulls(spark):
    """One output row per input row, ``(key, *fn(*inputs, *args))``;
    a None in an int and in a double field lands as SQL NULL, not
    NaN."""

    def scaled(x, label, scale):
        if x == 2:
            return (None, None, label)
        return (x * scale, x / 4, label)

    df = spark.createDataFrame(
        [(10, 1, "a"), (20, 2, "b"), (30, 3, "c")], "k long, x long, label string"
    )
    out = map_rows(df, scaled, "key long, y long, z double, label string", 100)
    assert out.columns == ["key", "y", "z", "label"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (10, 100, 0.25, "a"),
        (20, None, None, "b"),
        (30, 300, 0.75, "c"),
    ]
    assert out.filter(F.isnan("z")).count() == 0
    assert out.filter(F.col("y").isNull() & F.col("z").isNull()).count() == 1


def test_map_rows_many_row_function(spark):
    """``many=True``: each input row yields any number of rows, each
    prefixed with its key; a row yielding none leaves no trace."""

    def frames(n, stride):
        return [(i, f"f{i}") for i in range(0, n, stride)]

    df = spark.createDataFrame([(1, 5), (2, 0), (3, 2)], "k long, n long")
    out = map_rows(df, frames, "key long, idx long, name string", 2, many=True)
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0, "f0"),
        (1, 2, "f2"),
        (1, 4, "f4"),
        (3, 0, "f0"),
    ]


def test_map_rows_output_columns_come_from_the_schema(spark):
    """The output is named by the DDL schema, in its order, whatever
    the input columns are called; the function fills the fields
    positionally."""

    def swap(a, b):
        return (b, a)

    df = spark.createDataFrame([(7, 1, 2)], "id long, a long, b long")
    out = map_rows(df, swap, "asset_id long, second long, first long")
    assert out.columns == ["asset_id", "second", "first"]
    assert [tuple(r) for r in out.collect()] == [(7, 2, 1)]


def test_map_rows_empty_partition_and_empty_batch(spark):
    """An input partition with no rows, and a batch whose rows all
    yield nothing, both produce a well-formed (empty) result: the
    runner's empty frame still carries the schema's columns."""

    def none(x):
        return []

    empty = spark.createDataFrame([(1, 1)], "k long, x long").filter(F.lit(False))
    out = map_rows(empty, lambda x: (x,), "key long, y long")
    assert out.columns == ["key", "y"] and out.collect() == []
    spread = spark.createDataFrame([(1, 1), (2, 2)], "k long, x long").repartition(4)
    assert map_rows(spread, lambda x: (x * 2,), "key long, y long").count() == 2
    one_batch = spark.createDataFrame([(1, 1), (2, 2)], "k long, x long").coalesce(1)
    out = map_rows(one_batch, none, "key long, y long", many=True)
    assert out.collect() == []
