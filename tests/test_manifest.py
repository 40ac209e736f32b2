"""File-manifest data skipping: the pruned read must be row-identical
to the full scan + filter, and must actually skip files when the
layout clusters the tracked column."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from football_data_pipeline_spark.sources.manifest import (
    build_manifest,
    prune_files,
    pruned_read,
)

N_FILES = 16
ROWS_PER_FILE = 100


@pytest.fixture(scope="module")
def clustered_table(spark, tmp_path_factory):
    """16 files, ids 0..1599, clustered so file i holds exactly
    [i*100, i*100+99] — tight min/max per file, the layout
    write_training_shards produces."""
    path = str(tmp_path_factory.mktemp("manifest") / "tbl")
    df = spark.range(N_FILES * ROWS_PER_FILE).select(
        F.col("id"), (F.col("id") % 7).alias("payload")
    )
    df.repartitionByRange(N_FILES, "id").write.mode("overwrite").parquet(
        path
    )
    return path


def test_manifest_has_one_row_per_file(spark, clustered_table):
    m = build_manifest(spark, clustered_table, ["id"])
    rows = m.collect()
    assert len(rows) == N_FILES
    assert sum(r.n_rows for r in rows) == N_FILES * ROWS_PER_FILE
    # ranges tile the id space without overlap after sorting
    spans = sorted((r.id_min, r.id_max) for r in rows)
    assert spans[0][0] == 0 and spans[-1][1] == N_FILES * ROWS_PER_FILE - 1
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def test_pruned_read_matches_full_scan(spark, clustered_table):
    m = build_manifest(spark, clustered_table, ["id"])
    full = (
        spark.read.parquet(clustered_table)
        .filter(F.col("id").between(250, 449))
        .collect()
    )
    pruned = pruned_read(spark, m, "id", 250, 449).collect()
    assert sorted(map(tuple, pruned)) == sorted(map(tuple, full))


def test_prune_actually_skips_files(spark, clustered_table):
    m = build_manifest(spark, clustered_table, ["id"])
    # [250, 449] spans files 2,3,4 only
    assert len(prune_files(m, "id", 250, 449)) == 3
    # a point range hits exactly one file
    assert len(prune_files(m, "id", 700, 700)) == 1
    # boundary range touching two adjacent files
    assert len(prune_files(m, "id", 199, 200)) == 2


def test_empty_survivor_set_returns_empty_with_schema(spark, clustered_table):
    m = build_manifest(spark, clustered_table, ["id"])
    out = pruned_read(spark, m, "id", 10_000, 20_000)
    assert out.count() == 0
    assert set(out.columns) == {"id", "payload"}


def test_pruned_read_partitioned_layout_base_path(spark, tmp_path):
    """ADVICE r5: on a directory-partitioned table the per-file paths
    lose the partition column — base_path recovers it. Parity vs the
    full scan + filter, partition column included."""
    path = str(tmp_path / "ptbl")
    df = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 4).alias("part"),
        (F.col("id") % 7).alias("payload"),
    )
    df.repartitionByRange(8, "id").write.partitionBy("part").mode(
        "overwrite"
    ).parquet(path)
    m = build_manifest(spark, path, ["id"])
    got = pruned_read(spark, m, "id", 50, 149, base_path=path)
    assert set(got.columns) == {"id", "part", "payload"}
    expect = spark.read.parquet(path).filter(F.col("id").between(50, 149))
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in expect.select(*got.columns).collect()
    )
    # empty survivor set keeps the partitioned schema too
    empty = pruned_read(spark, m, "id", 10_000, 20_000, base_path=path)
    assert set(empty.columns) == {"id", "part", "payload"}
    assert empty.count() == 0

