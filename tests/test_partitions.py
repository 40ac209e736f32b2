"""Hidden partitioning: real partitioned writes, directory pruning
visible as PartitionFilters, read parity vs plain filters, and the
range mapper's refusal to prune hash buckets. The grid audit is
oracle-checked as q_partition_prune."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from football_data_pipeline_spark.sources.partitions import (
    bucket_transform,
    eq_partition_filter,
    partition_columns,
    range_partition_filter,
    truncate_transform,
)

N = 1000
SPEC = [
    ("truncate", "id", 100, "p_trunc"),
    ("bucket", "id", 4, "p_bucket"),
]


def _table(spark, base):
    root = str(base / "tbl")
    df = spark.range(N).select(F.col("id"), (F.col("id") % 7).alias("v"))
    df.withColumns(partition_columns(SPEC)).write.partitionBy(
        [name for _, _, _, name in SPEC]
    ).parquet(root)
    return root


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_eq_read_parity_and_partition_filters(spark, tmp_path):
    root = _table(spark, tmp_path)
    got = (
        spark.read.parquet(root)
        .filter(eq_partition_filter(SPEC, "id", 437))
        .filter(F.col("id") == 437)
    )
    rows = got.collect()
    assert len(rows) == 1 and rows[0].id == 437 and rows[0].v == 437 % 7
    plan = _plan(got)
    assert "PartitionFilters" in plan
    assert "p_trunc" in plan and "p_bucket" in plan


def test_range_read_parity_prunes_truncate_only(spark, tmp_path):
    root = _table(spark, tmp_path)
    got = (
        spark.read.parquet(root)
        .filter(range_partition_filter(SPEC, "id", 150, 349))
        .filter(F.col("id").between(150, 349))
    )
    assert sorted(r.id for r in got.collect()) == list(range(150, 350))
    plan = _plan(got)
    assert "PartitionFilters" in plan and "p_trunc" in plan


def test_range_mapper_never_constrains_buckets(spark):
    pred = range_partition_filter(SPEC, "id", 10, 20)
    # applying the predicate to every (trunc, bucket) cell of the
    # covered widths must keep ALL buckets
    cells = spark.range(N).select(
        truncate_transform(F.col("id"), 100).alias("p_trunc"),
        bucket_transform(F.col("id"), 4).alias("p_bucket"),
        F.col("id"),
    )
    kept = cells.filter(pred)
    assert kept.select("p_bucket").distinct().count() == 4
    # and the kept set is exactly the covered truncate width
    assert {r.p_trunc for r in kept.select("p_trunc").distinct().collect()} == {0}


def test_eq_filter_covers_the_true_row(spark):
    # soundness sweep: for a sample of keys, the eq partition
    # predicate never excludes the key's own cell
    cells = spark.range(N).select(
        F.col("id"),
        truncate_transform(F.col("id"), 100).alias("p_trunc"),
        bucket_transform(F.col("id"), 4).alias("p_bucket"),
    )
    for k in (0, 99, 100, 437, 999):
        kept = cells.filter(eq_partition_filter(SPEC, "id", k))
        assert kept.filter(F.col("id") == k).count() == 1


def test_hidden_partitioning_keeps_source_column(spark, tmp_path):
    root = _table(spark, tmp_path)
    df = spark.read.parquet(root)
    assert "id" in df.columns  # source column survives in the data
    assert {"p_trunc", "p_bucket"} <= set(df.columns)
    assert df.count() == N


def test_partitioned_layout_composes_with_snapshot_log(spark, tmp_path):
    """The partition grid is just a layout: build_manifest captures
    the derived partition values as per-file stats, the snapshot log
    versions it, and manifest-level pruning on a partition column
    agrees with the directory-level cut."""
    from football_data_pipeline_spark.sources.manifest import (
        build_manifest,
        prune_files,
    )
    from football_data_pipeline_spark.sources.snapshots import (
        commit_snapshot,
        read_snapshot,
    )

    root = _table(spark, tmp_path)
    m = build_manifest(spark, root, ["id", "p_trunc"])
    log = str(tmp_path / "log")
    v = commit_snapshot(spark, log, m)
    got = read_snapshot(spark, log, v, base_path=root)
    assert got.count() == N and {"id", "p_trunc"} <= set(got.columns)
    # manifest pruning on the derived column == the directory cut:
    # width 100 -> files for p_trunc in {200,300} only
    files = prune_files(m, "p_trunc", 200, 300)
    vals = (
        spark.read.option("basePath", root).parquet(*files)
        .select("p_trunc").distinct().collect()
    )
    assert {r.p_trunc for r in vals} == {200, 300}
