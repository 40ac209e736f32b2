"""Small-file compaction: deterministic FFD planning, row parity
through the rewrite, clustering preserved, pruned reads identical
through the new manifest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from football_data_pipeline_spark.sources.manifest import (
    build_manifest,
    pruned_read,
)
from football_data_pipeline_spark.sources.optimize import (
    compact_small_files,
    plan_compaction,
)

TARGET = 600


@pytest.fixture(scope="module")
def fragmented(spark, tmp_path_factory):
    """16 files clustered on id: 12 small (100 rows) + 4 large
    (1000 rows) — the shape a micro-batch funnel accretes."""
    base = tmp_path_factory.mktemp("opt")
    path = str(base / "tbl")
    small = spark.range(1200).select(
        F.col("id"), (F.col("id") % 5).alias("v")
    )
    small.repartitionByRange(12, "id").write.parquet(path)
    large = spark.range(1200, 5200).select(
        F.col("id"), (F.col("id") % 5).alias("v")
    )
    large.repartitionByRange(4, "id").write.mode("append").parquet(path)
    return path, str(base / "compacted")


def test_plan_packs_small_files_only(spark, fragmented):
    path, _ = fragmented
    man = build_manifest(spark, path, ["id"])
    _, bins, keep = plan_compaction(man, TARGET)
    assert len(keep) == 4  # the 1000-row files stay put
    assert sorted(len(b) for b in bins) == [6, 6]  # 12×100 → 2×600
    # deterministic: replanning gives the identical packing
    _, bins2, keep2 = plan_compaction(man, TARGET)
    assert bins == bins2 and keep == keep2


def test_bins_respect_capacity(spark, fragmented):
    path, _ = fragmented
    man = build_manifest(spark, path, ["id"])
    sizes = {r.file: r.n_rows for r in man.collect()}
    _, bins, _ = plan_compaction(man, TARGET)
    for b in bins:
        assert sum(sizes[f] for f in b) <= TARGET


def test_compaction_preserves_rows_and_tightens_layout(spark, fragmented):
    path, out = fragmented
    man = build_manifest(spark, path, ["id"])
    plan = plan_compaction(man, TARGET)
    new_man = compact_small_files(spark, man, plan, out, sort_col="id")
    rows = new_man.collect()
    assert len(rows) == 6  # 4 kept + 2 bins
    assert sum(r.n_rows for r in rows) == 5200
    # clustering survived: the two bin files tile [0,1200) disjointly
    bin_rows = sorted(
        ((r.id_min, r.id_max) for r in rows if r.n_rows == 600)
    )
    assert bin_rows[0][1] < bin_rows[1][0]
    # row-level parity with the original table
    all_files = [r.file for r in rows]
    got = sorted(
        (r.id, r.v) for r in spark.read.parquet(*all_files).collect()
    )
    want = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
    assert got == want


def test_pruned_read_identical_through_new_manifest(spark, fragmented):
    path, out = fragmented
    man = build_manifest(spark, path, ["id"])
    plan = plan_compaction(man, TARGET)
    new_man = compact_small_files(spark, man, plan, out + "_p", sort_col="id")
    got = sorted(
        r.id for r in pruned_read(spark, new_man, "id", 150, 1400).collect()
    )
    want = sorted(
        r.id
        for r in spark.read.parquet(path)
        .filter(F.col("id").between(150, 1400))
        .collect()
    )
    assert got == want


def test_noop_when_nothing_small(spark, tmp_path):
    path = str(tmp_path / "big")
    spark.range(2000).repartitionByRange(2, "id").write.parquet(path)
    man = build_manifest(spark, path, ["id"])
    plan = plan_compaction(man, 500)
    _, bins, keep = plan
    assert bins == [] and len(keep) == 2
    new_man = compact_small_files(spark, man, plan, str(tmp_path / "out"))
    assert sorted(r.file for r in new_man.collect()) == sorted(keep)


def test_target_rows_validated(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    man = build_manifest(spark, path, ["id"])
    with pytest.raises(ValueError):
        plan_compaction(man, 0)
