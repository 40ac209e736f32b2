"""Bloom file skipping: no false negatives ever (full-key sweep),
read_point equals the exact filter, absent keys prune to nothing,
and the funnel audit is oracle-checked as q_bloom_skipping."""

from __future__ import annotations

from pyspark.sql import functions as F

from football_data_pipeline_spark.sources.bloomskip import (
    bloom_probe,
    file_blooms,
    prune_files_bloom,
    read_point,
)

N = 800
FILES = 16


def _layout(spark, base):
    path = str(base / "tbl")
    df = spark.range(N).select(F.col("id"), (F.col("id") % 7).alias("v"))
    df.repartition(FILES, "id").write.parquet(path)
    return path


def _blooms(spark, path):
    """Bloom words for every file under ``path``, keyed by its URI."""
    rows = spark.read.parquet(path).select(F.input_file_name().alias("file"), "id")
    return file_blooms(rows, "file", "id")


def test_no_false_negatives_full_sweep(spark, tmp_path):
    path = _layout(spark, tmp_path)
    blooms = _blooms(spark, path).cache()
    truth = spark.read.parquet(path).select(
        F.input_file_name().alias("file"), F.col("id").alias("k")
    )
    probe = bloom_probe(
        blooms, truth.select("k").distinct(), "k"
    )
    # every (key, true-file) pair must survive the bloom
    missed = truth.join(probe, ["k", "file"], "left_anti").count()
    assert missed == 0
    blooms.unpersist()


def test_read_point_equals_exact_filter(spark, tmp_path):
    path = _layout(spark, tmp_path)
    blooms = _blooms(spark, path)
    keys = spark.createDataFrame([(3,), (400,), (777,)], "id long")
    got = sorted(
        (r.id, r.v)
        for r in read_point(spark, blooms, keys, "id").collect()
    )
    want = sorted(
        (r.id, r.v)
        for r in spark.read.parquet(path)
        .join(keys, ["id"], "left_semi")
        .collect()
    )
    assert got == want and len(got) == 3


def test_absent_keys_prune_everything(spark, tmp_path):
    path = _layout(spark, tmp_path)
    blooms = _blooms(spark, path)
    keys = spark.createDataFrame([(10_000,), (10_001,)], "id long")
    assert read_point(spark, blooms, keys, "id").count() == 0


def test_single_key_prunes_most_files(spark, tmp_path):
    path = _layout(spark, tmp_path)
    blooms = _blooms(spark, path)
    keys = spark.createDataFrame([(123,)], "id long")
    survivors = prune_files_bloom(blooms, keys, "id")
    # 4096-bit blooms over ~50 keys/file: FP rate ~0 — expect the
    # one true file, allow a couple of unlucky collisions
    assert 1 <= len(survivors) <= 3
    assert len(survivors) < FILES


def test_tiny_bloom_admits_false_positives_but_stays_sound(spark):
    rows = spark.range(200).select(
        (F.col("id") % 8).alias("file"), F.col("id").alias("k")
    )
    blooms = file_blooms(rows, "file", "k", num_bits=32)
    probe = bloom_probe(
        blooms, spark.createDataFrame([(7,)], "k long"), "k", num_bits=32
    )
    files = {r.file for r in probe.collect()}
    assert 7 % 8 in files  # the true file always survives
    assert len(files) > 1  # 32 bits over 25 keys: saturated, FPs certain


def test_non_integral_key_raises_instead_of_false_negatives(spark):
    """ADVICE r10: a string key used to cast to NULL silently, NULL
    words/masks on both sides, every probe filtered out → EMPTY for
    keys that exist. Build AND probe must fail loudly instead."""
    import pytest

    rows = spark.range(20).select(
        (F.col("id") % 4).alias("file"),
        F.col("id").cast("string").alias("k"),
    )
    with pytest.raises(TypeError, match="non-integral"):
        file_blooms(rows, "file", "k")
    good = spark.range(20).select(
        (F.col("id") % 4).alias("file"), F.col("id").alias("k")
    )
    blooms = file_blooms(good, "file", "k", num_bits=64)
    with pytest.raises(TypeError, match="non-integral"):
        bloom_probe(
            blooms, spark.createDataFrame([("7",)], "k string"), "k", num_bits=64
        )
