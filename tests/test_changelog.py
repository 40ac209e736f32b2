"""Snapshot changelog (sources/changelog.py): the manifest-bounded
diff equals a naive full-table multiset diff across appends, COW
deletes and COW updates; files common to both versions are never
opened; compaction churn cancels; the diff algebra itself is
oracle-checked as q_snapshot_diff."""

from __future__ import annotations

from pyspark.sql import functions as F

from football_data_pipeline_spark.sources.changelog import (
    changes_by_kind,
    plan_snapshot_diff,
    snapshot_changes,
)
from football_data_pipeline_spark.sources.manifest import build_manifest
from football_data_pipeline_spark.sources.snapshots import (
    commit_snapshot,
    delete_where_cow,
    read_manifest,
    read_snapshot,
    update_where_cow,
)

import pytest as _pytest_r14

# r14 slow tier: multi-minute e2e file — excluded from the default
# (driver-window) run by pytest.ini; the full suite (-m "") runs it.
pytestmark = _pytest_r14.mark.slow


def _naive_diff(spark, log, v_from, v_to):
    a = read_snapshot(spark, log, v_to)
    b = read_snapshot(spark, log, v_from)
    ins = {(r.id, r.v) for r in a.exceptAll(b).collect()}
    dels = {(r.id, r.v) for r in b.exceptAll(a).collect()}
    return ins, dels


def _got(spark, log, v_from, v_to):
    ch = snapshot_changes(spark, log, v_from, v_to)
    rows = ch.collect()
    ins = {(r.id, r.v) for r in rows if r._change_type == "insert"}
    dels = {(r.id, r.v) for r in rows if r._change_type == "delete"}
    return ins, dels


def test_diff_parity_across_delete_update_append(spark, tmp_path):
    base = tmp_path
    path = str(base / "tbl")
    log = str(base / "log")
    df = spark.range(600).select(F.col("id"), (F.col("id") % 7).alias("v"))
    df.repartitionByRange(6, "id").write.parquet(path)
    m0 = build_manifest(spark, path, ["id"])
    v0 = commit_snapshot(spark, log, m0)
    m1 = delete_where_cow(spark, m0, "id", 100, 199, str(base / "d"))
    v1 = commit_snapshot(spark, log, m1)
    m2 = update_where_cow(
        spark, m1, "id", 300, 349, {"v": F.col("v") + 50}, str(base / "u")
    )
    v2 = commit_snapshot(spark, log, m2)
    # append: new rows in their own files + manifest union
    app = str(base / "a")
    spark.range(600, 650).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).coalesce(1).write.parquet(app)
    m3 = m2.unionByName(build_manifest(spark, app, ["id"]).select(*m2.columns))
    v3 = commit_snapshot(spark, log, m3)

    for vf, vt in [(v0, v1), (v1, v2), (v2, v3), (v0, v3)]:
        assert _got(spark, log, vf, vt) == _naive_diff(spark, log, vf, vt)
    # spot semantics: the delete window shows 100 deletes, 0 inserts
    ins, dels = _got(spark, log, v0, v1)
    assert len(ins) == 0 and len(dels) == 100
    # an update surfaces as delete-of-old + insert-of-new, same ids
    ins, dels = _got(spark, log, v1, v2)
    assert {i for i, _ in ins} == {i for i, _ in dels}
    assert len(ins) == 50
    kinds = {
        r.change_type: r.n_rows
        for r in changes_by_kind(snapshot_changes(spark, log, v1, v2)).collect()
    }
    assert kinds == {"insert": 50, "delete": 50}


def test_common_files_are_never_opened(spark, tmp_path):
    """The 100-TB claim: only the files the manifests disagree on
    are in the diff's read set."""
    base = tmp_path
    path = str(base / "tbl")
    log = str(base / "log")
    spark.range(600).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(6, "id").write.parquet(path)
    m0 = build_manifest(spark, path, ["id"])
    v0 = commit_snapshot(spark, log, m0)
    m1 = delete_where_cow(spark, m0, "id", 150, 180, str(base / "d"))
    v1 = commit_snapshot(spark, log, m1)
    added, removed = plan_snapshot_diff(
        read_manifest(spark, log, v0), read_manifest(spark, log, v1)
    )
    all_from = {r.file for r in m0.select("file").collect()}
    all_to = {r.file for r in m1.select("file").collect()}
    common = all_from & all_to
    # exactly one 100-row file intersects [150, 180] → 1 removed,
    # 1 rewritten replacement; the other 5 files are common and
    # outside the read set
    assert len(removed) == 1 and len(added) == 1
    assert common == (all_from - set(removed)) == (all_to - set(added))
    assert not (set(added) | set(removed)) & common


def test_compaction_churn_cancels(spark, tmp_path):
    """Compacting small files rewrites rows into new files without
    changing any row — the changelog between the two versions must
    be EMPTY (the exceptAll pairing cancels the churn)."""
    from football_data_pipeline_spark.sources.optimize import (
        compact_small_files,
        plan_compaction,
    )

    base = tmp_path
    path = str(base / "tbl")
    log = str(base / "log")
    spark.range(300).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(6, "id").write.parquet(path)
    m0 = build_manifest(spark, path, ["id"])
    v0 = commit_snapshot(spark, log, m0)
    m1 = compact_small_files(
        spark, m0, plan_compaction(m0, 200), str(base / "c"), sort_col="id"
    )
    v1 = commit_snapshot(spark, log, m1)
    assert snapshot_changes(spark, log, v0, v1).count() == 0


def test_no_churn_returns_empty_with_schema(spark, tmp_path):
    base = tmp_path
    path = str(base / "tbl")
    log = str(base / "log")
    spark.range(50).select(F.col("id"), (F.col("id") % 3).alias("v")).coalesce(
        1
    ).write.parquet(path)
    m0 = build_manifest(spark, path, ["id"])
    v0 = commit_snapshot(spark, log, m0)
    v1 = commit_snapshot(spark, log, m0)  # identical manifest
    ch = snapshot_changes(spark, log, v0, v1)
    assert ch.count() == 0
    assert set(ch.columns) == {"id", "v", "_change_type"}


def test_changes_between_refs(spark, tmp_path):
    """Either endpoint may be a ref name — 'what changed between the
    release tag and the prod branch' is one call."""
    from football_data_pipeline_spark.sources.snapshots import set_ref

    base = tmp_path
    path = str(base / "tbl")
    log = str(base / "log")
    spark.range(200).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(2, "id").write.parquet(path)
    m0 = build_manifest(spark, path, ["id"])
    v0 = commit_snapshot(spark, log, m0)
    m1 = delete_where_cow(spark, m0, "id", 0, 49, str(base / "d"))
    v1 = commit_snapshot(spark, log, m1)
    set_ref(spark, log, "release", v0, kind="tag")
    set_ref(spark, log, "prod", v1, kind="branch")
    ch = snapshot_changes(spark, log, "release", "prod").collect()
    assert {r._change_type for r in ch} == {"delete"}
    assert {r.id for r in ch} == set(range(50))
    # mixed int/ref endpoints work too
    assert snapshot_changes(spark, log, v0, "prod").count() == 50
