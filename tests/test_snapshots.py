"""Snapshot log: commit/marker atomicity, time travel through
compaction and copy-on-write delete, orphan computation and vacuum.
The driver-facing classification audit is oracle-checked as
q_cow_delete; these tests pin the filesystem semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from football_data_pipeline_spark.sources.manifest import build_manifest
from football_data_pipeline_spark.sources.optimize import (
    compact_small_files,
    plan_compaction,
)
from football_data_pipeline_spark.sources.snapshots import (
    _local_path,
    commit_log,
    commit_snapshot,
    delete_where_cow,
    expire_snapshots,
    orphan_files,
    merge_cow,
    plan_cow_delete,
    plan_cow_merge,
    read_manifest,
    read_snapshot,
    snapshot_versions,
    vacuum,
)

import pytest as _pytest_r14

# r14 slow tier: multi-minute e2e file — excluded from the default
# (driver-window) run by pytest.ini; the full suite (-m "") runs it.
pytestmark = _pytest_r14.mark.slow

N_ROWS = 2000
DEL_LO, DEL_HI = 700, 1099  # spans parts of several 125-row files


def _rows(df):
    return sorted((r.id, r.v) for r in df.select("id", "v").collect())


def _files(manifest):
    return sorted(r.file for r in manifest.select("file").collect())


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A 16-file id-clustered table with a three-version history:
    v0 = the raw fragmented write, v1 = compacted, v2 = COW-deleted
    [DEL_LO, DEL_HI]."""
    base = tmp_path_factory.mktemp("snap")
    path = str(base / "tbl")
    log = str(base / "log")
    df = spark.range(N_ROWS).select(F.col("id"), (F.col("id") % 7).alias("v"))
    df.repartitionByRange(16, "id").write.parquet(path)
    m0 = build_manifest(spark, path, ["id"])
    v0 = commit_snapshot(spark, log, m0)
    m1 = compact_small_files(
        spark, m0, plan_compaction(m0, 500), str(base / "compact"), sort_col="id"
    )
    v1 = commit_snapshot(spark, log, m1)
    m2 = delete_where_cow(
        spark, m1, "id", DEL_LO, DEL_HI, out_dir=str(base / "deleted")
    )
    v2 = commit_snapshot(spark, log, m2)
    return {"base": str(base), "log": log, "versions": (v0, v1, v2)}


def test_versions_and_log(spark, table):
    v0, v1, v2 = table["versions"]
    assert snapshot_versions(spark, table["log"]) == [v0, v1, v2]
    log = commit_log(spark, table["log"]).collect()
    assert [r.version for r in log] == [v0, v1, v2]
    assert [r.parent for r in log] == [None, v0, v1]
    assert log[0].n_rows == N_ROWS and log[1].n_rows == N_ROWS
    assert log[2].n_rows == N_ROWS - (DEL_HI - DEL_LO + 1)


def test_time_travel_row_parity(spark, table):
    v0, v1, v2 = table["versions"]
    expect = [(i, i % 7) for i in range(N_ROWS)]
    assert _rows(read_snapshot(spark, table["log"], v0)) == expect
    # compaction is row-preserving: v1 reads the SAME rows from a
    # different (smaller) file set
    assert _rows(read_snapshot(spark, table["log"], v1)) == expect
    assert len(_files(read_manifest(spark, table["log"], v0))) > len(
        _files(read_manifest(spark, table["log"], v1))
    )
    # the COW delete only shows at v2; v1 still time-travels to the
    # deleted rows (files never mutate)
    assert _rows(read_snapshot(spark, table["log"], v2)) == [
        (i, i % 7) for i in range(N_ROWS) if not (DEL_LO <= i <= DEL_HI)
    ]
    # default = latest committed
    assert _rows(read_snapshot(spark, table["log"])) == _rows(
        read_snapshot(spark, table["log"], v2)
    )


def test_cow_delete_rewrites_only_intersecting_files(spark, table):
    _, v1, v2 = table["versions"]
    m1 = read_manifest(spark, table["log"], v1)
    m2 = read_manifest(spark, table["log"], v2)
    plan = plan_cow_delete(m1, "id", DEL_LO, DEL_HI).collect()
    carried = sorted(r.file for r in plan if r.action == "carry")
    rewritten = sorted(r.file for r in plan if r.action == "rewrite")
    assert rewritten, "the fixture range must hit at least one file"
    assert carried, "the fixture range must miss at least one file"
    # carried files pass through verbatim; rewritten ones are gone
    f2 = set(_files(m2))
    assert set(carried) <= f2
    assert not (set(rewritten) & f2)
    # the fresh files hold exactly the rewritten survivors: the
    # original rewritten rows minus every deleted id (carried files
    # don't intersect the range, so ALL deletions land here)
    fresh = m2.filter(~F.col("file").isin(carried)).collect()
    rewritten_rows = sum(
        r.n_rows for r in plan if r.action == "rewrite"
    )
    assert sum(r.n_rows for r in fresh) == rewritten_rows - (
        DEL_HI - DEL_LO + 1
    )


def test_update_where_cow_values_files_and_time_travel(spark, tmp_path):
    """COW UPDATE: only range-intersecting files rewrite (carried
    pointers byte-identical), matched rows change value in place,
    unmatched rows pass through untouched, and the pre-update
    snapshot still time-travels to the old values."""
    from football_data_pipeline_spark.sources.snapshots import (
        update_where_cow,
    )

    base = tmp_path
    path = str(base / "tbl")
    df = spark.range(800).select(F.col("id"), (F.col("id") % 7).alias("v"))
    df.repartitionByRange(8, "id").write.parquet(path)
    log = str(base / "log")
    m0 = build_manifest(spark, path, ["id"])
    v0 = commit_snapshot(spark, log, m0)
    lo, hi = 250, 449  # spans parts of files 2-4
    m1 = update_where_cow(
        spark, m0, "id", lo, hi,
        {"v": F.col("v") + 100},
        out_dir=str(base / "upd"),
    )
    v1 = commit_snapshot(spark, log, m1)
    # carried files are the SAME paths (pointers, not copies)
    old_files = set(_files(m0))
    carried = set(_files(m1)) & old_files
    plan_carry = {
        r.file
        for r in plan_cow_delete(m0, "id", lo, hi).collect()
        if r.action == "carry"
    }
    assert carried == plan_carry and len(carried) > 0
    # value semantics: matched rows updated, everything else intact
    got = {r.id: r.v for r in read_snapshot(spark, log, v1).collect()}
    assert len(got) == 800
    for i in (0, 249, 450, 799):
        assert got[i] == i % 7
    for i in (250, 300, 449):
        assert got[i] == i % 7 + 100
    # time travel: v0 still reads the pre-update values
    old = {r.id: r.v for r in read_snapshot(spark, log, v0).collect()}
    assert old[300] == 300 % 7
    # no-intersection predicate is a manifest no-op
    m_same = update_where_cow(
        spark, m1, "id", 5000, 6000, {"v": F.lit(0)},
        out_dir=str(base / "never"),
    )
    assert _files(m_same) == _files(m1)
    # unknown assignment column fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in the table"):
        update_where_cow(
            spark, m1, "id", 0, 10, {"nope": F.lit(1)},
            out_dir=str(base / "bad"),
        )


def test_cow_delete_no_intersection_is_noop(spark, table):
    _, v1, _ = table["versions"]
    m1 = read_manifest(spark, table["log"], v1)
    out = delete_where_cow(
        spark, m1, "id", N_ROWS + 10, N_ROWS + 20,
        out_dir=table["base"] + "/never",
    )
    assert _files(out) == _files(m1)
    assert not os.path.exists(table["base"] + "/never")


def test_plan_cow_delete_closed_range_boundary(spark):
    man = spark.createDataFrame(
        [("a", 10, 0, 99), ("b", 10, 100, 199), ("c", 10, 200, 299)],
        "file string, n_rows int, id_min int, id_max int",
    )
    acts = {
        r.file: r.action
        for r in plan_cow_delete(man, "id", 99, 200).collect()
    }
    # closed range: touching a single endpoint is an intersection
    assert acts == {"a": "rewrite", "b": "rewrite", "c": "rewrite"}
    acts2 = {
        r.file: r.action
        for r in plan_cow_delete(man, "id", 100, 199).collect()
    }
    assert acts2 == {"a": "carry", "b": "rewrite", "c": "carry"}


def test_uncommitted_snapshot_is_invisible(spark, table, tmp_path):
    log = str(tmp_path / "log")
    m = read_manifest(spark, table["log"])
    v0 = commit_snapshot(spark, log, m)
    # a crashed commit: manifest written, marker never made it
    m.write.parquet(os.path.join(log, "snap-000001", "manifest"))
    assert snapshot_versions(spark, log) == [v0]
    assert read_manifest(spark, log).count() == m.count()  # latest = v0
    # a retry numbers PAST the debris instead of colliding with it
    v_next = commit_snapshot(spark, log, m)
    assert v_next == 2
    assert snapshot_versions(spark, log) == [v0, v_next]
    log_rows = {r.version: r.parent for r in commit_log(spark, log).collect()}
    assert log_rows[v_next] == v0  # parent is the latest COMMITTED


def test_orphan_files_is_expired_minus_retained(spark):
    exp = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "file string, n_rows int"
    )
    ret = spark.createDataFrame([("b", 1), ("d", 1)], "file string, n_rows int")
    assert sorted(
        r.file for r in orphan_files(exp, ret).collect()
    ) == ["a", "c"]


def test_expire_and_vacuum(spark, table):
    v0, v1, v2 = table["versions"]
    m0_files = set(_files(read_manifest(spark, table["log"], v0)))
    m1_files = set(_files(read_manifest(spark, table["log"], v1)))
    m2_files = set(_files(read_manifest(spark, table["log"], v2)))
    with pytest.raises(ValueError):
        expire_snapshots(spark, table["log"], keep_latest=0)
    expired, orphans = expire_snapshots(spark, table["log"], keep_latest=1)
    assert expired == [v0, v1]
    # orphans = everything v0/v1 referenced that v2 does not
    assert set(orphans) == (m0_files | m1_files) - m2_files
    assert snapshot_versions(spark, table["log"]) == [v2]
    with pytest.raises(ValueError):
        read_manifest(spark, table["log"], v0)
    # data files untouched until vacuum; vacuum is idempotent
    assert all(os.path.isfile(_local_path(f)) for f in orphans)
    assert vacuum(orphans) == len(orphans)
    assert vacuum(orphans) == 0
    assert not any(os.path.isfile(_local_path(f)) for f in orphans)
    # the retained snapshot still reads completely
    assert read_snapshot(spark, table["log"], v2).count() == N_ROWS - (
        DEL_HI - DEL_LO + 1
    )
    # expiring down to the only version is a no-op
    assert expire_snapshots(spark, table["log"], keep_latest=1) == ([], [])


def test_store_seam_carries_full_lifecycle(spark, tmp_path):
    """VERDICT r10 item 8: every FS touch the log makes must go
    through the injectable store. Run commit → CAS → refs → expire →
    vacuum with a counting wrapper injected and assert (a) results
    identical to the local default, (b) every operation class was
    actually routed through the seam."""
    from football_data_pipeline_spark.sources.snapshots import (
        ConcurrentCommitError,
        LocalSnapshotStore,
        set_ref,
        set_snapshot_store,
        resolve_ref,
        vacuum,
    )

    class CountingStore(LocalSnapshotStore):
        def __init__(self):
            self.calls = {}

        def _tick(self, op):
            self.calls[op] = self.calls.get(op, 0) + 1

        def list_dirs(self, path):
            self._tick("list_dirs")
            return super().list_dirs(path)

        def is_dir(self, path):
            self._tick("is_dir")
            return super().is_dir(path)

        def ensure_dir(self, path):
            self._tick("ensure_dir")
            return super().ensure_dir(path)

        def mkdir_atomic(self, path):
            self._tick("mkdir_atomic")
            return super().mkdir_atomic(path)

        def remove_tree(self, path):
            self._tick("remove_tree")
            return super().remove_tree(path)

        def is_file(self, path):
            self._tick("is_file")
            return super().is_file(path)

        def remove_file(self, path):
            self._tick("remove_file")
            return super().remove_file(path)

    store = CountingStore()
    prev = set_snapshot_store(store)
    try:
        base = tmp_path
        path = str(base / "tbl")
        spark.range(100).coalesce(2).write.parquet(path)
        log = str(base / "log")
        m = build_manifest(spark, path, ["id"])
        v0 = commit_snapshot(spark, log, m)
        v1 = commit_snapshot(spark, log, m, expect_latest=v0)
        with pytest.raises(ConcurrentCommitError):
            commit_snapshot(spark, log, m, expect_latest=v0)
        set_ref(spark, log, "rel", v1, kind="tag")
        assert resolve_ref(spark, log, "rel") == v1
        assert snapshot_versions(spark, log) == [v0, v1]
        expired, orphans = expire_snapshots(spark, log, keep_latest=1)
        assert expired == [v0] and orphans == []
        assert vacuum(orphans) == 0
    finally:
        set_snapshot_store(prev)
    # every operation class the lifecycle needs went through the seam
    assert {"list_dirs", "is_dir", "ensure_dir", "mkdir_atomic",
            "remove_tree"} <= set(store.calls)


def test_read_manifest_validation(spark, tmp_path):
    with pytest.raises(ValueError):
        read_manifest(object(), str(tmp_path / "nolog"))


# --- streaming append writer ------------------------------------------


def test_snapshot_append_writer_exactly_once(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        latest_committed_batch,
        snapshot_append_writer,
    )

    log = str(tmp_path / "log")
    data = str(tmp_path / "data")
    write = snapshot_append_writer(log, data, ["id"])

    b0 = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("v"))
    b1 = spark.range(100, 250).select(F.col("id"), (F.col("id") % 3).alias("v"))
    write(b0, 0)
    write(b1, 1)
    vs = snapshot_versions(spark, log)
    assert len(vs) == 2
    assert latest_committed_batch(spark, log) == 1
    # latest = both batches; v0 time-travels to batch 0 alone even
    # though the stream has moved on
    assert read_snapshot(spark, log, vs[-1], base_path=data).count() == 250
    assert read_snapshot(spark, log, vs[0], base_path=data).count() == 100
    # the partition column is recovered through basePath
    got = read_snapshot(spark, log, vs[-1], base_path=data)
    assert set(r.batch_id for r in got.select("batch_id").distinct().collect()) == {0, 1}

    # replaying an already-committed batch is a full no-op
    write(b1, 1)
    write(b0, 0)
    assert snapshot_versions(spark, log) == vs
    assert read_snapshot(spark, log, base_path=data).count() == 250

    # incremental manifests: v1 carries v0's file rows verbatim
    m0 = set(r.file for r in read_manifest(spark, log, vs[0]).collect())
    m1 = set(r.file for r in read_manifest(spark, log, vs[1]).collect())
    assert m0 < m1


def test_snapshot_append_writer_crash_before_marker(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        snapshot_append_writer,
    )

    log = str(tmp_path / "log")
    data = str(tmp_path / "data")
    write = snapshot_append_writer(log, data, ["id"])
    b0 = spark.range(50).select(F.col("id"), F.lit("x").alias("v"))
    write(b0, 0)
    # crash window: batch 1's data landed but the commit never did —
    # readers can't see it, and the replay rewrites it exactly once
    b1 = spark.range(50, 80).select(F.col("id"), F.lit("y").alias("v"))
    b1.write.parquet(os.path.join(data, "batch_id=1"))
    assert read_snapshot(spark, log, base_path=data).count() == 50
    write(b1, 1)
    assert read_snapshot(spark, log, base_path=data).count() == 80
    assert sorted(
        r.id for r in read_snapshot(spark, log, base_path=data).collect()
    ) == list(range(80))


def test_snapshot_append_writer_empty_batch(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        latest_committed_batch,
        snapshot_append_writer,
    )

    log = str(tmp_path / "log")
    data = str(tmp_path / "data")
    write = snapshot_append_writer(log, data, ["id"])
    empty = spark.range(0).select(F.col("id"), F.lit("x").alias("v"))
    # an empty FIRST batch has nothing to snapshot at all
    write(empty, 0)
    assert snapshot_versions(spark, log) == []
    b1 = spark.range(10).select(F.col("id"), F.lit("x").alias("v"))
    write(b1, 1)
    # an empty later batch still advances the replay guard with an
    # unchanged manifest
    write(empty, 2)
    assert latest_committed_batch(spark, log) == 2
    vs = snapshot_versions(spark, log)
    assert len(vs) == 2
    m_last = read_manifest(spark, log, vs[-1])
    m_prev = read_manifest(spark, log, vs[0])
    assert sorted(r.file for r in m_last.collect()) == sorted(
        r.file for r in m_prev.collect()
    )
    assert read_snapshot(spark, log, base_path=data).count() == 10


def test_scan_appends_incremental_reads(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        scan_appends,
        snapshot_append_writer,
    )

    log = str(tmp_path / "log")
    data = str(tmp_path / "data")
    write = snapshot_append_writer(log, data, ["id"])
    write(spark.range(0, 40).select("id"), 0)
    write(spark.range(40, 90).select("id"), 1)
    write(spark.range(90, 100).select("id"), 2)
    v0, v1, v2 = snapshot_versions(spark, log)
    # the delta between two pins is exactly the later batches' rows
    assert sorted(
        r.id for r in scan_appends(spark, log, v0, v2, base_path=data).collect()
    ) == list(range(40, 100))
    assert sorted(
        r.id for r in scan_appends(spark, log, v1, v2, base_path=data).collect()
    ) == list(range(90, 100))
    # same pin twice = empty delta with the table schema
    empty = scan_appends(spark, log, v2, v2, base_path=data)
    assert empty.count() == 0 and "id" in empty.columns
    # default to_version = latest
    assert scan_appends(spark, log, v0, base_path=data).count() == 60


def test_scan_appends_rejects_rewritten_history(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        scan_appends,
        snapshot_append_writer,
    )

    log = str(tmp_path / "log")
    data = str(tmp_path / "data")
    write = snapshot_append_writer(log, data, ["id"])
    write(spark.range(0, 40).select("id"), 0)
    write(spark.range(40, 80).select("id"), 1)
    v0, v1 = snapshot_versions(spark, log)
    # a COW delete between the pins rewrites files: the file diff is
    # no longer the row diff, so the incremental scan must refuse
    m2 = delete_where_cow(
        spark,
        read_manifest(spark, log, v1),
        "id",
        10,
        20,
        out_dir=str(tmp_path / "rewrite"),
    )
    v2 = commit_snapshot(spark, log, m2)
    with pytest.raises(ValueError, match="not append-only"):
        scan_appends(spark, log, v0, v2, base_path=data)


def test_maintain_housekeeping_loop(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        maintain,
        snapshot_append_writer,
    )

    log = str(tmp_path / "log")
    data = str(tmp_path / "data")
    opt = str(tmp_path / "opt")
    write = snapshot_append_writer(log, data, ["id"])
    # 5 small append batches -> 5 snapshots of accreting small files
    for i in range(5):
        write(
            spark.range(i * 40, (i + 1) * 40).select("id").coalesce(1), i
        )
    assert len(snapshot_versions(spark, log)) == 5
    report = maintain(
        spark, log, target_rows=200, out_dir=opt, sort_col="id",
        keep_latest=1,
    )
    # the pass compacted, committed, expired everything else and
    # vacuumed the replaced files
    assert report["compacted_version"] is not None
    assert len(report["expired"]) == 5
    assert report["vacuumed"] == report["orphans"] > 0
    vs = snapshot_versions(spark, log)
    assert vs == [report["compacted_version"]]
    # post-compaction files live under the optimize root, so the
    # batch_id path metadata is gone (an OPTIMIZE rewrite keeps only
    # real columns) — read without basePath
    got = read_snapshot(spark, log)
    assert sorted(r.id for r in got.collect()) == list(range(200))
    # a second pass on an already-right-sized table is a no-op
    # commit-wise (nothing under target) and touches no files
    report2 = maintain(
        spark, log, target_rows=200, out_dir=opt, sort_col="id",
        keep_latest=1,
    )
    assert report2["compacted_version"] is None
    assert report2["expired"] == [] and report2["vacuumed"] == 0
    assert snapshot_versions(spark, log) == vs


def test_maintain_does_not_lose_concurrent_appends(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        maintain,
        snapshot_append_writer,
    )

    log = str(tmp_path / "log")
    data = str(tmp_path / "data")
    write = snapshot_append_writer(log, data, ["id"])
    for i in range(3):
        write(spark.range(i * 30, (i + 1) * 30).select("id").coalesce(1), i)
    maintain(
        spark, log, target_rows=100, out_dir=str(tmp_path / "opt"),
        sort_col="id", keep_latest=2,
    )
    # appends keep landing after a maintenance pass; the next pass
    # folds them in without losing a row
    write(spark.range(90, 120).select("id").coalesce(1), 3)
    maintain(
        spark, log, target_rows=200, out_dir=str(tmp_path / "opt"),
        sort_col="id", keep_latest=1,
    )
    got = read_snapshot(spark, log)
    assert sorted(r.id for r in got.collect()) == list(range(120))


def test_rollback_moves_pointer_keeps_history(spark, tmp_path):
    """ROLLBACK commits a new version with the target's manifest: the
    table reads as of the target, the bad versions stay
    time-travelable, the batch watermark survives (a rolled-back
    batch must not replay), and the CAS guard protects against a
    concurrent writer."""
    import pytest

    from football_data_pipeline_spark.sources.snapshots import (
        ConcurrentCommitError,
        latest_committed_batch,
        rollback,
        snapshot_append_writer,
    )

    log = str(tmp_path / "log")
    data = str(tmp_path / "data")
    write = snapshot_append_writer(log, data, ["id"])
    for i in range(3):
        write(spark.range(i * 10, (i + 1) * 10).select("id").coalesce(1), i)
    assert snapshot_versions(spark, log) == [0, 1, 2]
    v = rollback(spark, log, 0)
    assert v == 3
    # the live table is version 0's rows again...
    assert sorted(r.id for r in read_snapshot(spark, log).collect()) == list(range(10))
    # ...while the rolled-back state stays one pin away
    assert read_snapshot(spark, log, version=2).count() == 30
    # the watermark carried: batch 2 cannot replay itself back in
    assert latest_committed_batch(spark, log) == 2
    write(spark.range(20, 30).select("id").coalesce(1), 2)
    assert snapshot_versions(spark, log) == [0, 1, 2, 3]
    # a NEW batch lands on top of the rolled-back state
    write(spark.range(100, 110).select("id").coalesce(1), 3)
    assert sorted(r.id for r in read_snapshot(spark, log).collect()) == list(
        range(10)
    ) + list(range(100, 110))
    # CAS: a stale expectation raises instead of last-writer-winning
    with pytest.raises(ConcurrentCommitError):
        rollback(spark, log, 0, expect_latest=3)


def test_maintain_carries_batch_watermark_forward(spark, tmp_path):
    """The compaction commit inherits the log's max batch_id (ADVICE
    r11): maintain(keep_latest=1) expires every batch-stamped append
    marker, and without the carry latest_committed_batch would go
    None — the snapshot-backed dedup funnels would see an EMPTY
    history and re-accept every duplicate. With it, the replay guard
    and the read_table_before_batch prune both survive compaction."""
    from football_data_pipeline_spark.sources.snapshots import (
        latest_committed_batch,
        maintain,
        read_table_before_batch,
        snapshot_append_writer,
    )

    log = str(tmp_path / "log")
    data = str(tmp_path / "data")
    write = snapshot_append_writer(log, data, ["id"])
    for i in range(3):
        write(spark.range(i * 30, (i + 1) * 30).select("id").coalesce(1), i)
    assert latest_committed_batch(spark, log) == 2
    maintain(
        spark, log, target_rows=200, out_dir=str(tmp_path / "opt"),
        sort_col="id", keep_latest=1,
    )
    # only the compaction commit survives — and it carries batch 2
    assert len(snapshot_versions(spark, log)) == 1
    assert latest_committed_batch(spark, log) == 2
    # replaying batch 2 is still a guarded no-op
    write(spark.range(60, 90).select("id").coalesce(1), 2)
    assert len(snapshot_versions(spark, log)) == 1
    # a FUTURE batch's history prune sees the full compacted table
    hist = read_table_before_batch(spark, log, 3)
    assert hist is not None
    assert sorted(r.id for r in hist.collect()) == list(range(90))


# --- copy-on-write MERGE (keyed upsert) --------------------------------


def _merge_table(spark, base, n=400, files=8, hole_mod=10, hole_rem=3):
    """An id-clustered table with planted holes (id % 10 == 3 absent)
    so in-range inserts exist."""
    path = str(base / "tbl")
    df = (
        spark.range(n)
        .filter((F.col("id") % hole_mod) != hole_rem)
        .select(F.col("id"), (F.col("id") % 7).alias("v"))
    )
    df.repartitionByRange(files, "id").write.parquet(path)
    return build_manifest(spark, path, ["id"])


def test_merge_cow_upsert_semantics(spark, tmp_path):
    m = _merge_table(spark, tmp_path)
    updates = spark.createDataFrame(
        # 100/200: replacements; 13/23: in-range holes (inserts);
        # 1000/1001: past the span (inserts)
        [(100, 99), (200, 99), (13, 99), (23, 99), (1000, 99), (1001, 99)],
        "id long, v long",
    )
    new_m = merge_cow(spark, m, updates, "id", str(tmp_path / "merged"))
    got = dict(_rows(read_files(spark, new_m)))
    assert got[100] == 99 and got[200] == 99  # replaced
    assert got[13] == 99 and got[23] == 99  # hole inserts
    assert got[1000] == 99 and got[1001] == 99  # span inserts
    assert got[101] == 101 % 7  # untouched neighbor keeps its value
    base_ids = {i for i in range(400) if i % 10 != 3}
    assert set(got) == base_ids | {13, 23, 1000, 1001}


def read_files(spark, manifest):
    return spark.read.parquet(*_files(manifest))


def test_merge_cow_rewrites_only_hit_files(spark, tmp_path):
    m = _merge_table(spark, tmp_path)
    old_files = set(_files(m))
    # keys 0 and 60 both land in the low id range -> few files hit
    updates = spark.createDataFrame([(0, 99), (60, 99)], "id long, v long")
    plan = plan_cow_merge(m, "id", updates)
    carry = {r.file for r in plan.collect() if r.action == "carry"}
    rewrite = {r.file for r in plan.collect() if r.action == "rewrite"}
    assert rewrite and carry  # both classes present
    new_m = merge_cow(spark, m, updates, "id", str(tmp_path / "merged"))
    new_files = set(_files(new_m))
    # carried files pass through verbatim; rewritten ones are gone
    assert carry <= new_files
    assert not (rewrite & new_files)
    assert new_files - old_files  # fresh files exist


def test_merge_cow_all_inserts_no_rewrite(spark, tmp_path):
    m = _merge_table(spark, tmp_path)
    updates = spark.createDataFrame(
        [(5000 + i, 1) for i in range(5)], "id long, v long"
    )
    plan = plan_cow_merge(m, "id", updates)
    assert {r.action for r in plan.collect()} == {"carry"}
    new_m = merge_cow(spark, m, updates, "id", str(tmp_path / "m2"))
    assert set(_files(m)) <= set(_files(new_m))
    got = dict(_rows(read_files(spark, new_m)))
    assert all(got[5000 + i] == 1 for i in range(5))
    assert len(got) == len(dict(_rows(read_files(spark, m)))) + 5


def test_merge_cow_duplicate_update_keys_raise(spark, tmp_path):
    m = _merge_table(spark, tmp_path)
    dup = spark.createDataFrame([(1, 1), (1, 2)], "id long, v long")
    with pytest.raises(ValueError, match="duplicate"):
        merge_cow(spark, m, dup, "id", str(tmp_path / "m3"))


def test_merge_cow_time_travel(spark, tmp_path):
    log = str(tmp_path / "log")
    m = _merge_table(spark, tmp_path)
    v0 = commit_snapshot(spark, log, m)
    updates = spark.createDataFrame([(100, 99)], "id long, v long")
    new_m = merge_cow(spark, m, updates, "id", str(tmp_path / "merged"))
    v1 = commit_snapshot(spark, log, new_m)
    before = dict(_rows(read_snapshot(spark, log, v0)))
    after = dict(_rows(read_snapshot(spark, log, v1)))
    assert before[100] == 100 % 7 and after[100] == 99


# --- schema evolution + optimistic concurrency --------------------------


def test_add_column_evolution_read(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        snapshot_append_writer,
    )

    log, data = str(tmp_path / "log"), str(tmp_path / "data")
    write = snapshot_append_writer(log, data, ["id"])
    old = spark.range(5).select(F.col("id"))
    write(old.coalesce(1), 0)
    new = spark.range(5, 10).select(F.col("id"), (F.col("id") * 2).alias("w"))
    write(new.coalesce(1), 1)
    got = read_snapshot(spark, log, merge_schema=True)
    assert set(got.columns) >= {"id", "w"}
    rows = {r.id: r.w for r in got.collect()}
    assert rows[2] is None  # pre-evolution rows NULL in the new col
    assert rows[7] == 14
    # pre-evolution snapshot still reads with its own schema
    v0 = read_snapshot(spark, log, 0, base_path=data)
    assert "w" not in [c for c in v0.columns if c != "batch_id"]


def test_expect_latest_cas_commit(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        ConcurrentCommitError,
    )

    base = tmp_path
    path = str(base / "tbl")
    spark.range(10).coalesce(1).write.parquet(path)
    m = build_manifest(spark, path, ["id"])
    log = str(base / "log")
    v0 = commit_snapshot(spark, log, m)
    # writer A derives from v0; writer B commits first
    v_b = commit_snapshot(spark, log, m, expect_latest=v0)
    assert v_b == v0 + 1
    with pytest.raises(ConcurrentCommitError, match="concurrent"):
        commit_snapshot(spark, log, m, expect_latest=v0)
    # retry from the new latest succeeds
    assert commit_snapshot(spark, log, m, expect_latest=v_b) == v_b + 1
    # CAS against an empty log: expect None semantics via fresh dir
    log2 = str(base / "log2")
    with pytest.raises(ConcurrentCommitError):
        commit_snapshot(spark, log2, m, expect_latest=5)
    # expect_latest=-1 == "expect empty": lands version 0, and a
    # second -1 commit loses the CAS (version 0 now committed)
    assert commit_snapshot(spark, log2, m, expect_latest=-1) == 0
    with pytest.raises(ConcurrentCommitError):
        commit_snapshot(spark, log2, m, expect_latest=-1)


def test_expect_latest_cas_is_atomic_under_inflight_writer(spark, tmp_path):
    """ADVICE r10 (high): two writers passing the read-check
    concurrently must NOT both land. Simulate writer A mid-commit —
    its snap dir claimed (mkdir) but marker not yet written, a
    seconds-long Spark job in flight — and assert writer B's guarded
    commit raises instead of numbering past A and dropping A's
    changes."""
    from football_data_pipeline_spark.sources.snapshots import (
        ConcurrentCommitError,
        UncommittedSnapshotDirError,
        _snap_dir,
    )

    base = tmp_path
    path = str(base / "tbl")
    spark.range(10).coalesce(1).write.parquet(path)
    m = build_manifest(spark, path, ["id"])
    log = str(base / "log")
    v0 = commit_snapshot(spark, log, m)
    # writer A passes the guard and claims snap-(v0+1); its manifest
    # job has not finished → no marker yet
    os.mkdir(_snap_dir(log, v0 + 1))
    # writer B passes the same read-check (latest is still v0) but
    # must lose the directory claim — loudly, with the cleanup hint
    with pytest.raises(UncommittedSnapshotDirError, match="without"):
        commit_snapshot(spark, log, m, expect_latest=v0)
    # UNGUARDED commits, by contrast, renumber past the in-flight
    # claim (append semantics: nothing to lose, take a fresh number)
    v_next = commit_snapshot(spark, log, m)
    assert v_next == v0 + 2
    # once A's version is fully committed, B's retry fails the read-
    # check itself (latest moved past expect_latest) — the mkdir
    # branch only fires in the sub-second window between check and
    # claim, which is exactly the window it exists to close
    meta = spark.createDataFrame(
        [(v0 + 1, v0, 1, 10, None)],
        "version int, parent int, n_files long, n_rows long, batch_id long",
    ).withColumn("committed_at", F.current_timestamp())
    meta.coalesce(1).write.parquet(
        os.path.join(_snap_dir(log, v0 + 1), "commit")
    )
    with pytest.raises(ConcurrentCommitError, match="landed first"):
        commit_snapshot(spark, log, m, expect_latest=v0)


# --- write-audit-publish -------------------------------------------------


def test_wap_gate_blocks_and_publishes(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        audit_and_publish,
        stage_snapshot,
    )

    path = str(tmp_path / "tbl")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).coalesce(1).write.parquet(path)
    m = build_manifest(spark, path, ["id"])
    staging, main = str(tmp_path / "staging"), str(tmp_path / "main")
    sv = stage_snapshot(spark, staging, m)

    # staged data is invisible to main readers
    assert snapshot_versions(spark, main) == []

    audits = {
        "non_empty": lambda df: df.count() > 0,
        "no_null_ids": lambda df: df.filter(F.col("id").isNull()).count()
        == 0,
        "min_rows": lambda df: df.count() >= 1000,  # fails: only 100
    }
    out = audit_and_publish(spark, staging, sv, main, audits)
    assert not out["published"] and out["version"] is None
    assert out["audits"]["min_rows"] == "failed"
    assert out["audits"]["non_empty"] == "pass"
    assert snapshot_versions(spark, main) == []  # still unpublished

    # drop the failing audit -> publishes; main readers now see it
    del audits["min_rows"]
    out2 = audit_and_publish(spark, staging, sv, main, audits)
    assert out2["published"] and out2["version"] == 0
    assert read_snapshot(spark, main).count() == 100


def test_wap_audit_exception_counts_as_failure(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        audit_and_publish,
        stage_snapshot,
    )

    path = str(tmp_path / "tbl")
    spark.range(10).coalesce(1).write.parquet(path)
    m = build_manifest(spark, path, ["id"])
    staging, main = str(tmp_path / "staging"), str(tmp_path / "main")
    sv = stage_snapshot(spark, staging, m)

    def boom(df):
        raise RuntimeError("audit query exploded")

    out = audit_and_publish(spark, staging, sv, main, {"boom": boom})
    assert not out["published"]
    assert out["audits"]["boom"].startswith("error: audit query exploded")
    assert snapshot_versions(spark, main) == []


def test_wap_publish_respects_cas(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        ConcurrentCommitError,
        publish_snapshot,
        stage_snapshot,
    )

    path = str(tmp_path / "tbl")
    spark.range(10).coalesce(1).write.parquet(path)
    m = build_manifest(spark, path, ["id"])
    staging, main = str(tmp_path / "staging"), str(tmp_path / "main")
    sv = stage_snapshot(spark, staging, m)
    v0 = commit_snapshot(spark, main, m)  # someone else commits first
    with pytest.raises(ConcurrentCommitError):
        publish_snapshot(spark, staging, sv, main, expect_latest=v0 - 1)
    assert publish_snapshot(spark, staging, sv, main, expect_latest=v0) == v0 + 1


def test_timestamp_as_of(spark, tmp_path):
    import datetime as _dt
    import time

    from football_data_pipeline_spark.sources.snapshots import (
        version_as_of,
    )

    path = str(tmp_path / "tbl")
    spark.range(10).coalesce(1).write.parquet(path)
    m = build_manifest(spark, path, ["id"])
    log = str(tmp_path / "log")
    v0 = commit_snapshot(spark, log, m)
    time.sleep(1.2)
    t_mid = _dt.datetime.now()
    time.sleep(1.2)
    v1 = commit_snapshot(spark, log, m)
    assert version_as_of(spark, log, t_mid) == v0
    assert version_as_of(spark, log, _dt.datetime.now()) == v1
    with pytest.raises(ValueError, match="at or before"):
        version_as_of(spark, log, t_mid - _dt.timedelta(days=1))
    # read path composes: pin the resolved version
    assert read_snapshot(spark, log, version_as_of(spark, log, t_mid)).count() == 10


def test_refs_tags_and_branches(spark, tmp_path):
    from football_data_pipeline_spark.sources.snapshots import (
        expire_snapshots,
        list_refs,
        resolve_ref,
        set_ref,
    )

    path = str(tmp_path / "tbl")
    spark.range(10).coalesce(1).write.parquet(path)
    m = build_manifest(spark, path, ["id"])
    log = str(tmp_path / "log")
    v0 = commit_snapshot(spark, log, m)
    v1 = commit_snapshot(spark, log, m)

    set_ref(spark, log, "v1.0", v0, kind="tag")
    set_ref(spark, log, "prod", v0, kind="branch")
    assert resolve_ref(spark, log, "v1.0") == v0
    # branches move; tags never do
    set_ref(spark, log, "prod", v1, kind="branch")
    assert resolve_ref(spark, log, "prod") == v1
    with pytest.raises(Exception):
        set_ref(spark, log, "v1.0", v1, kind="tag")  # immutable
    with pytest.raises(ValueError, match="immutable tag"):
        set_ref(spark, log, "v1.0", v1, kind="branch")  # no demotion
    assert list_refs(spark, log) == {
        "v1.0": (v0, "tag"),
        "prod": (v1, "branch"),
    }
    # read by ref composes with the read path
    assert read_snapshot(spark, log, ref="prod").count() == 10
    with pytest.raises(ValueError, match="unknown ref"):
        resolve_ref(spark, log, "nope")
    with pytest.raises(ValueError, match="version or ref"):
        read_snapshot(spark, log, version=v0, ref="prod")
    # an un-committed version cannot be named
    with pytest.raises(ValueError, match="not a committed"):
        set_ref(spark, log, "bad", 99)
    # retention outrunning a ref is a loud error, not a silent miss
    v2 = commit_snapshot(spark, log, m)
    v3 = commit_snapshot(spark, log, m)
    expire_snapshots(spark, log, keep_latest=2)
    with pytest.raises(ValueError, match="expired version"):
        resolve_ref(spark, log, "v1.0")
