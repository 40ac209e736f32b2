"""Snapshot log — versioned manifests, time travel, copy-on-write
delete and orphan-file GC for the plain-Parquet + manifest layout.
Reference parity: the reference VACUUMs a SQLite file on a cron
(`.github/workflows/*.yml:661-680`) and has no multi-version story;
this is the scale extension that turns manifest.py / optimize.py /
zorder.py into a coherent table format (Iceberg's snapshot +
`expire_snapshots` + copy-on-write `DELETE`, Delta's transaction log
+ `VACUUM`), built from engine-native pieces.

Why the pieces demand it: optimize.compact_small_files and
zorder.write_zordered both end with "switch manifests and the old
files become orphans" — but until now the manifest only ever lived
in the caller's hands. The snapshot log makes that contract durable:

- ``commit_snapshot``: persist a manifest as the next numbered
  snapshot under ``{log_dir}/snap-N/`` — manifest parquet first,
  then a 1-row commit-marker parquet (version, parent, n_files,
  n_rows) LAST, so a crash mid-commit leaves an uncommitted
  directory that every reader ignores (the marker is the commit).
- ``read_manifest`` / ``read_snapshot``: pin any committed version —
  ``read_snapshot`` reads exactly that version's file list, which is
  what makes a reader immune to concurrent compaction/delete (the
  files it reads are immutable; only the MANIFEST ever changes).
- ``plan_cow_delete`` / ``delete_where_cow``: copy-on-write range
  delete — a pure manifest projection classifies every file
  ``rewrite`` (its [min, max] intersects the delete range — the
  exact predicate prune_files uses, flipped to the write path) or
  ``carry``; only the rewrite tail is read and rewritten without the
  deleted rows, carried files' manifest rows pass through verbatim.
  Files never mutate — old versions still read the deleted rows
  (time travel), new versions don't.
- ``plan_cow_merge`` / ``merge_cow``: copy-on-write keyed MERGE
  (upsert) — the UPDATE half of the DML story. Planning is one
  broadcast range join of the update keys against the manifest's
  per-file [min, max]: a file is ``rewrite`` iff SOME update key
  falls inside its key range, else ``carry`` — and because the
  classification is range-based, a carried file can never contain
  an update key, so exact key membership only ever needs the
  rewrite tail's rows. The merge itself is one anti-join (old rows
  whose key is replaced) unioned with ALL updates (an update key
  present in the old rows is a replacement, an absent one an
  insert — no separate membership pass needed), written in one
  range-partitioned within-file-sorted job.
- One rewrite path for every verb. Each DML verb here (and
  mor.py's folds) is a planning step plus a row transform handed to
  ``cow_rewrite``: read the planned files, transform, one
  range-partitioned within-file-sorted write (clustering and tight
  min/max survive), re-measure on the manifest's tracked columns,
  union with the carried rows. Every rewrite that lands files for a
  later commit (``maintain``, the CDC fold, a view refresh, a
  retraction fold) writes into ``fresh_dir``, numbered past any
  crash debris, and commits through ``commit_rewrite``, which
  carries the log's batch watermark so the streaming replay guard
  survives retention.
- ``orphan_files`` / ``expire_snapshots`` / ``vacuum``: retention.
  A data file is an orphan when every snapshot referencing it has
  been expired — one anti-join of expired manifests against
  retained ones (``orphan_files``, a pure DataFrame op). expire
  drops the snapshot directories and returns the orphan list;
  ``vacuum`` unlinks the orphans. Split on purpose: computing
  orphans is cheap and reversible, deleting data is not.

100 TB shape: every planning decision here is bounded by FILE count
(manifest rows), never row count — commit metadata is one bounded
aggregate, orphan computation one file-keyed anti-join, the COW
delete reads only the intersecting tail. Every directory listing /
existence check / atomic claim goes through the injectable
``LocalSnapshotStore`` seam (``set_snapshot_store``) — an object
store implements the same six calls (LIST of the log prefix,
conditional-create for the CAS claim), still bounded by snapshot
count; data/manifest/marker IO is already Hadoop-FS-pathed.

Driver-checked: ``q_cow_delete`` runs plan_cow_delete's
classification over a deterministic fixed-width synthetic layout of
``documents`` (the zorder-audit trick: file geometry as pure
arithmetic, so the DuckDB oracle reproduces the layout, the
intersection test and the per-file survivor counts bit-for-bit).
Filesystem semantics (marker atomicity, time travel through
compaction and delete, orphan GC) are pytest-locked in
tests/test_snapshots.py.
"""

from __future__ import annotations

import os
import re
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .manifest import build_manifest, read_files, tracked_columns

_SNAP_RE = re.compile(r"^snap-(\d{6})$")


class LocalSnapshotStore:
    """The log's filesystem seam (VERDICT r10 item 8): every
    directory listing / existence check / atomic claim / removal
    the snapshot log performs goes through this object, so the
    lakehouse layer is not hard-wired to the local FS. The default
    is the local implementation below; an object-store port
    implements the same six methods — ``list_dirs`` maps to a
    delimiter LIST of the prefix, ``is_dir``/``is_file`` to HEAD or
    a 1-key LIST, ``mkdir_atomic`` to the store's conditional
    create (S3 If-None-Match PUT, GCS x-goog-if-generation-match 0,
    or an external lock table) — the ONE primitive the CAS commit's
    atomicity rests on. Data/manifest/marker reads and writes
    already go through Spark's Hadoop FS layer and need no seam.
    Inject with ``set_snapshot_store``."""

    def list_dirs(self, path: str) -> list[str]:
        """Names of the directory-like children of ``path`` (the
        log's snap-*/ref-* entries); [] for a missing path."""
        if not os.path.isdir(path):
            return []
        return [e.name for e in os.scandir(path) if e.is_dir()]

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def ensure_dir(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def mkdir_atomic(self, path: str) -> None:
        """Create ``path``; raise FileExistsError when it already
        exists. MUST be atomic w.r.t. concurrent callers — the CAS
        commit's one-racer-wins guarantee is exactly this call."""
        os.mkdir(path)

    def remove_tree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path)

    def is_file(self, path: str) -> bool:
        return os.path.isfile(path)

    def remove_file(self, path: str) -> None:
        os.remove(path)


_STORE = LocalSnapshotStore()


def set_snapshot_store(store: LocalSnapshotStore) -> LocalSnapshotStore:
    """Swap the log's filesystem implementation (returns the
    previous one — restore it in a finally)."""
    global _STORE
    prev = _STORE
    _STORE = store
    return prev


class ConcurrentCommitError(RuntimeError):
    """A compare-and-swap commit lost the race (``expect_latest``)."""


class UncommittedSnapshotDirError(ConcurrentCommitError):
    """The CAS-pinned snap directory exists but carries no commit
    marker: either a crashed commit's debris or a commit in flight
    right now. The caller must decide which (no writer alive → safe
    to delete the directory and retry); the log cannot tell the two
    apart by looking at the filesystem alone."""


def _snap_dir(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"snap-{version:06d}")


def _marker_path(log_dir: str, version: int) -> str:
    return os.path.join(_snap_dir(log_dir, version), "commit")


def _local_path(file_uri: str) -> str:
    """input_file_name() yields file: URIs on the local FS; unlink
    and os.path checks need the bare path."""
    if file_uri.startswith("file:"):
        return urlparse(file_uri).path
    return file_uri


def _next_number(root: str, pattern: re.Pattern) -> int:
    """One past the largest N among ``root``'s directories whose name
    ``pattern`` matches (group 1 = N), committed or not; 0 when none
    match."""
    taken = [
        int(m.group(1))
        for name in _STORE.list_dirs(root)
        if (m := pattern.match(name))
    ]
    return max(taken, default=-1) + 1


def fresh_dir(root: str, prefix: str = "gen") -> str:
    """``{root}/{prefix}-N``, numbered past every ``{prefix}-N``
    directory already under ``root`` (ADVICE r12): a crash between a
    rewrite's ``errorifexists`` write and its commit leaves such a
    directory unreferenced, and numbering from committed state
    would hand every retry that same N and fail it forever."""
    pattern = re.compile(rf"^{re.escape(prefix)}-(\d+)$")
    return os.path.join(root, f"{prefix}-{_next_number(root, pattern)}")


def snapshot_versions(spark: SparkSession, log_dir: str) -> list[int]:
    """Committed versions, ascending. A snap-N directory without its
    commit marker (crash between manifest write and marker write) is
    invisible — the marker IS the commit."""
    out = []
    for name in _STORE.list_dirs(log_dir):
        m = _SNAP_RE.match(name)
        if m:
            v = int(m.group(1))
            if _STORE.is_dir(_marker_path(log_dir, v)):
                out.append(v)
    return sorted(out)


def commit_snapshot(
    spark: SparkSession,
    log_dir: str,
    manifest: DataFrame,
    parent: int | None = None,
    batch_id: int | None = None,
    expect_latest: int | None = None,
) -> int:
    """Persist ``manifest`` as the next committed version and return
    its number. Write order is the atomicity story: manifest parquet
    first, the 1-row marker parquet last — readers only trust marked
    snapshots. Commit metadata (n_files, n_rows) is one aggregate
    over the manifest, bounded by file count. ``batch_id`` stamps
    streaming commits so a replayed micro-batch can recognize itself
    (``snapshot_append_writer``). ``expect_latest`` is the
    optimistic-concurrency guard: the commit raises instead of
    landing when another writer committed past the version this one
    derived its manifest from (compare-and-swap at the log level —
    the caller re-reads, re-derives and retries, Iceberg-style).
    Without it, last-writer-wins: safe for a single maintainer,
    lost-update-prone for concurrent rewriters.

    CAS atomicity (ADVICE r10): the read-check alone is check-then-
    act — two writers can both see latest == expect_latest while
    neither's marker has landed (the manifest write is a seconds-
    long Spark job) and the "number past every snap dir" rule would
    hand the second a FRESH number, silently dropping the first's
    changes. So a guarded commit pins version = expect_latest + 1
    (``-1`` means "expect an empty log" → version 0) and atomically
    claims that snap directory with os.mkdir BEFORE the manifest
    job: exactly one racer wins the mkdir; the loser raises
    ConcurrentCommitError (marker present → a commit landed) or
    UncommittedSnapshotDirError (no marker → debris or in-flight;
    cleanup-and-retry is the caller's call). Unguarded commits claim
    their directory the same way, retrying past racers — appends
    serialize onto distinct versions instead of colliding."""
    versions = snapshot_versions(spark, log_dir)
    _STORE.ensure_dir(log_dir)
    if expect_latest is not None:
        latest = versions[-1] if versions else None
        expected = None if expect_latest == -1 else expect_latest
        if latest != expected:
            raise ConcurrentCommitError(
                f"expected latest committed version {expected}, "
                f"found {latest}: a concurrent commit landed first — "
                "re-derive from the new latest and retry"
            )
        version = 0 if expected is None else expected + 1
        snap = _snap_dir(log_dir, version)
        try:
            _STORE.mkdir_atomic(snap)  # the atomic claim — one racer wins
        except FileExistsError:
            if _STORE.is_dir(_marker_path(log_dir, version)):
                raise ConcurrentCommitError(
                    f"version {version} was committed by a concurrent "
                    "writer after the guard check passed — re-derive "
                    "from the new latest and retry"
                ) from None
            raise UncommittedSnapshotDirError(
                f"snap directory for version {version} exists without "
                "a commit marker: crashed-commit debris or a commit in "
                "flight — verify no writer is alive, delete the "
                "directory, and retry"
            ) from None
    else:
        # number past EVERY snap dir, committed or not — a crashed
        # commit leaves an unmarked directory behind, and a retry
        # must take a fresh number rather than collide with the
        # debris. The mkdir claim serializes unguarded racers onto
        # distinct versions (each loser renumbers past the winner).
        while True:
            version = _next_number(log_dir, _SNAP_RE)
            snap = _snap_dir(log_dir, version)
            try:
                _STORE.mkdir_atomic(snap)
                break
            except FileExistsError:
                continue
    if parent is None and versions:
        parent = versions[-1]
    manifest.write.mode("errorifexists").parquet(
        os.path.join(snap, "manifest")
    )
    meta = manifest.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
    ).select(
        F.lit(version).alias("version"),
        F.lit(parent).cast("int").alias("parent"),
        "n_files",
        "n_rows",
        F.lit(batch_id).cast("long").alias("batch_id"),
        F.current_timestamp().alias("committed_at"),
    )
    meta.coalesce(1).write.mode("errorifexists").parquet(
        _marker_path(log_dir, version)
    )
    return version


def commit_log(spark: SparkSession, log_dir: str) -> DataFrame:
    """The table's history: one row per committed snapshot (version,
    parent, n_files, n_rows, batch_id, committed_at) — the markers
    read back as a table. mergeSchema tolerates logs whose older
    markers predate a metadata column (committed_at reads NULL
    there)."""
    versions = snapshot_versions(spark, log_dir)
    if not versions:
        raise ValueError(f"no committed snapshots under {log_dir!r}")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(*[_marker_path(log_dir, v) for v in versions])
        .orderBy("version")
    )


def version_as_of(spark: SparkSession, log_dir: str, ts) -> int:
    """TIMESTAMP AS OF: the newest version whose marker committed at
    or before ``ts`` (a datetime or an ISO string). Raises when the
    log's first commit is later than ``ts`` — there was no table
    yet — and when older markers predate the committed_at column
    (those rows read NULL and are never matched; re-commit or pin by
    version for pre-upgrade history). One read over the markers,
    bounded by snapshot count."""
    ts_c = F.lit(ts).cast("timestamp") if isinstance(ts, str) else F.lit(ts)
    row = (
        commit_log(spark, log_dir)
        .filter(F.col("committed_at") <= ts_c)
        .agg(F.max("version").alias("v"))
        .first()
    )
    if row.v is None:
        raise ValueError(
            f"no snapshot of {log_dir!r} committed at or before {ts!r}"
        )
    return int(row.v)


def read_manifest(
    spark: SparkSession, log_dir: str, version: int | None = None
) -> DataFrame:
    """The manifest pinned at ``version`` (default: latest
    committed). Raises on an uncommitted or unknown version."""
    versions = snapshot_versions(spark, log_dir)
    if not versions:
        raise ValueError(f"no committed snapshots under {log_dir!r}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} is not a committed snapshot of {log_dir!r}"
        )
    return spark.read.parquet(os.path.join(_snap_dir(log_dir, version), "manifest"))


def read_snapshot(
    spark: SparkSession,
    log_dir: str,
    version: int | None = None,
    base_path: str | None = None,
    merge_schema: bool = False,
    ref: str | None = None,
) -> DataFrame:
    """Time travel: the table's rows exactly as of ``version`` —
    reads that snapshot's explicit file list, so later compactions
    and deletes (which only ADD files and switch manifests) cannot
    change what this returns until the snapshot is expired. Pass the
    table root as ``base_path`` on directory-partitioned layouts
    (manifest.pruned_read's basePath contract). ``merge_schema=True``
    is the ADD-COLUMN evolution read: a snapshot whose files predate
    a column widening reads the union schema, pre-evolution rows
    NULL in the new columns (parquet mergeSchema — additive changes
    only; renames/retypes need a rewrite, same as every table
    format). ``ref`` reads by name instead ('prod', 'v1.2' — see
    set_ref); mutually exclusive with ``version``."""
    if ref is not None:
        if version is not None:
            raise ValueError("pass version or ref, not both")
        version = resolve_ref(spark, log_dir, ref)
    manifest = read_manifest(spark, log_dir, version)
    files = [r.file for r in manifest.select("file").collect()]
    if not files:
        raise ValueError("snapshot has an empty manifest")
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*files)


# --- copy-on-write rewrites ------------------------------------------


def cow_rewrite(
    spark: SparkSession,
    manifest: DataFrame,
    rewrite: list[str],
    transform,
    col: str,
    out_dir: str,
    base_path: str | None = None,
    inserts: DataFrame | None = None,
) -> DataFrame:
    """The copy-on-write core every rewrite verb shares (DELETE,
    UPDATE and MERGE below; mor.fold_deletes / fold_keys): read the
    ``rewrite`` files (``base_path`` recovers directory-encoded
    columns), map their rows through ``transform``, union
    ``inserts`` (MERGE's update rows), and write the result to
    ``out_dir`` in one range-partitioned, within-file-sorted job on
    ``col`` — one file per rewritten file, plus one for the inserts,
    so clustering and tight min/max survive. The new files hold the
    columns the rewritten files held (plus any tracked column): a
    directory-encoded column ``base_path`` recovered serves the
    transform but is not written, so every file of the new snapshot
    reads one schema (maintain's compactor rule). Returns the NEW
    manifest: ``manifest``'s other rows verbatim + the new files
    measured on its tracked columns; with nothing to rewrite and no
    inserts, ``manifest`` itself. Input files never mutate, so old
    snapshots still read the pre-rewrite rows (time travel)."""
    if not rewrite and inserts is None:
        return manifest
    rows = None
    if rewrite:
        rows = transform(read_files(spark, manifest, rewrite, base_path))
    if inserts is not None:
        rows = (
            inserts
            if rows is None
            else rows.unionByName(inserts.select(*rows.columns))
        )
    tracked = tracked_columns(manifest)
    if rewrite and base_path is not None:
        held = set(read_files(spark, manifest, rewrite).columns) | set(tracked)
        rows = rows.select(*[c for c in rows.columns if c in held])
    n_out = len(rewrite) + (0 if inserts is None else 1)
    (
        rows.repartitionByRange(n_out, col)
        .sortWithinPartitions(col)
        .write.mode("errorifexists")
        .parquet(out_dir)
    )
    carried = manifest.filter(~F.col("file").isin(rewrite))
    fresh = build_manifest(spark, out_dir, tracked)
    return carried.unionByName(fresh.select(*carried.columns))


def planned_rewrites(plan: DataFrame) -> list[str]:
    """The files a COW plan marks 'rewrite' (a file-count collect)."""
    rows = plan.filter(F.col("action") == "rewrite").select("file").collect()
    return [r.file for r in rows]


def plan_cow_delete(
    manifest: DataFrame,
    col: str,
    lo: int | float | Column,
    hi: int | float | Column,
) -> DataFrame:
    """``manifest`` + ``action``: 'rewrite' for files whose
    [min, max] intersects the closed delete range [lo, hi] —
    prune_files' intersection test pointed at the write path —
    'carry' for the rest. A pure projection, bounded by file count;
    lo/hi may be Columns already present in the frame (the audit
    query derives them in-plan)."""
    lo_c = lo if isinstance(lo, Column) else F.lit(lo)
    hi_c = hi if isinstance(hi, Column) else F.lit(hi)
    hit = (F.col(f"{col}_max") >= lo_c) & (F.col(f"{col}_min") <= hi_c)
    return manifest.withColumn(
        "action", F.when(hit, F.lit("rewrite")).otherwise(F.lit("carry"))
    )


def delete_where_cow(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
    out_dir: str,
    base_path: str | None = None,
) -> DataFrame:
    """Copy-on-write ``DELETE WHERE col BETWEEN lo AND hi``: rewrite
    ONLY the files the manifest says can hold doomed rows, keeping
    their survivors (``cow_rewrite``), and return the NEW manifest.
    Commit the result as the next snapshot and old versions still
    time-travel to the deleted rows."""
    rewrite = planned_rewrites(plan_cow_delete(manifest, col, lo, hi))
    return cow_rewrite(
        spark,
        manifest,
        rewrite,
        lambda rows: rows.filter(~F.col(col).between(F.lit(lo), F.lit(hi))),
        col,
        out_dir,
        base_path,
    )


def update_where_cow(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
    assignments: dict[str, Column],
    out_dir: str,
    base_path: str | None = None,
) -> DataFrame:
    """Copy-on-write ``UPDATE table SET <assignments> WHERE col
    BETWEEN lo AND hi`` — the DML verb between DELETE (drop matched
    rows) and MERGE (keyed replace): matched rows keep their
    identity but change column values in place. The planning IS
    ``plan_cow_delete``'s range classification (a file can hold a
    matched row iff its [min, max] intersects the predicate range);
    rewritten files' rows pass through with the assignments applied
    under the predicate, carried files are untouched pointers, and
    old snapshots still time-travel to the pre-update values.
    Assignments may touch the clustering column itself — the fresh
    manifest re-measures min/max, and the rewrite re-sorts, so
    skipping stays correct (though updating the clustering key
    degrades clustering, same as every table format)."""
    pred = F.col(col).between(F.lit(lo), F.lit(hi))

    def assign(rows: DataFrame) -> DataFrame:
        unknown = [c for c in assignments if c not in rows.columns]
        if unknown:
            raise ValueError(
                f"UPDATE assigns to column(s) not in the table: {unknown}"
            )
        return rows.select(
            *[
                F.when(pred, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in rows.columns
            ]
        )

    rewrite = planned_rewrites(plan_cow_delete(manifest, col, lo, hi))
    return cow_rewrite(
        spark, manifest, rewrite, assign, col, out_dir, base_path
    )


# --- copy-on-write merge (keyed upsert) --------------------------------


def plan_cow_merge(
    manifest: DataFrame,
    col: str,
    updates: DataFrame,
    key_col: str | None = None,
    file_col: str = "file",
) -> DataFrame:
    """``manifest`` + ``action``: 'rewrite' for files whose
    [min, max] key range contains at least one update key, 'carry'
    for the rest. One broadcast range join (manifest side broadcast —
    bounded by file count) + a distinct on the hit files; the update
    side streams through once, so planning cost is one scan of the
    updates regardless of table size. ``key_col`` names the key in
    ``updates`` when it differs from ``col``."""
    k = key_col or col
    hits = (
        updates.select(F.col(k).alias("__k"))
        .join(
            F.broadcast(
                manifest.select(file_col, f"{col}_min", f"{col}_max")
            ),
            (F.col("__k") >= F.col(f"{col}_min"))
            & (F.col("__k") <= F.col(f"{col}_max")),
            "inner",
        )
        .select(file_col)
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        manifest.join(F.broadcast(hits), file_col, "left")
        .withColumn(
            "action",
            F.when(F.col("__hit"), F.lit("rewrite")).otherwise(
                F.lit("carry")
            ),
        )
        .drop("__hit")
    )


def merge_cow(
    spark: SparkSession,
    manifest: DataFrame,
    updates: DataFrame,
    key: str,
    out_dir: str,
    base_path: str | None = None,
) -> DataFrame:
    """Copy-on-write ``MERGE INTO table USING updates ON key`` with
    WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT semantics: rewrite
    ONLY the files whose key range can hold an update key; their
    surviving old rows (key not updated) plus EVERY update row go to
    ``out_dir`` in one range-partitioned, within-file-sorted write,
    and the returned manifest is carried rows verbatim + fresh
    measurements of the new files. Old snapshots still time-travel
    to the pre-merge rows.

    Correctness hinges on the planning invariant: a carried file's
    [min, max] contains no update key, so (a) no replaced row can
    hide in a carried file and (b) updates need no exact-membership
    split — a key present in the rewrite tail is replaced by the
    anti-join, an absent one is an insert, and both are just "union
    the updates". Updates must be unique on ``key`` (validated with
    one aggregate — duplicate keys would make the merge
    order-dependent)."""
    dup = updates.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col(key))).alias("d")
    ).first()
    if dup.d:
        raise ValueError(
            f"updates carry {dup.d} duplicate {key!r} key(s); "
            "MERGE requires a unique update key — dedupe first"
        )
    rewrite = planned_rewrites(plan_cow_merge(manifest, key, updates))
    return cow_rewrite(
        spark,
        manifest,
        rewrite,
        lambda old: old.join(
            updates.select(F.col(key).alias("__k")),
            old[key] == F.col("__k"),
            "left_anti",
        ),
        key,
        out_dir,
        base_path,
        inserts=updates,
    )


# --- streaming: exactly-once snapshot commits --------------------------


def read_table_before_batch(
    spark: SparkSession, log_dir: str, batch_id: int
) -> DataFrame | None:
    """The table as of the newest commit whose marker's batch_id is
    strictly below ``batch_id`` — the snapshot-log spelling of the
    streaming funnels' ``batch_id < N`` history prune: a replay of
    batch N can never see its own (or any later) commit as history.
    None when no such commit exists (fresh log, or only this batch's
    replay debris). One marker read, bounded by snapshot count."""
    if not snapshot_versions(spark, log_dir):
        return None
    row = (
        commit_log(spark, log_dir)
        .filter(F.col("batch_id") < batch_id)
        .agg(F.max("version").alias("v"))
        .first()
    )
    if row.v is None:
        return None
    return read_snapshot(spark, log_dir, int(row.v))


def latest_committed_batch(spark: SparkSession, log_dir: str) -> int | None:
    """The highest ``batch_id`` any committed marker carries, or None
    when the log is empty / holds only non-streaming commits. One
    read over the markers — bounded by snapshot count."""
    if not snapshot_versions(spark, log_dir):
        return None
    row = commit_log(spark, log_dir).agg(F.max("batch_id").alias("b")).first()
    return row.b


def commit_rewrite(
    spark: SparkSession,
    log_dir: str,
    manifest: DataFrame,
    expect_latest: int | None = None,
) -> int:
    """Commit a rewrite of the table (compaction, fold, rollback) as
    the next version, INHERITING the log's batch watermark (Delta's
    txn-version carry-forward; ADVICE r11). With a NULL batch_id,
    expire_snapshots(keep_latest=1) would drop every batch-stamped
    marker: the replay guard would reopen (a replayed batch
    overwrites its data dir under files the rewrite carried) and the
    dedup funnels' history reads would come back EMPTY."""
    return commit_snapshot(
        spark,
        log_dir,
        manifest,
        batch_id=latest_committed_batch(spark, log_dir),
        expect_latest=expect_latest,
    )


def snapshot_append_writer(
    log_dir: str,
    data_dir: str,
    tracked_cols: list[str],
    partition_by: list[str] | None = None,
):
    """foreachBatch sink that turns every micro-batch into an ATOMIC
    snapshot commit — the streaming half of the table format, and a
    stronger idempotence story than the funnels' partition
    overwrites: a reader pinned to version N never sees a half-written
    batch, because data files and the manifest both land before the
    marker that makes them visible.

    Per batch N:

    1. replay guard FIRST: if a committed marker already carries
       ``batch_id >= N`` the whole batch is a no-op (the crash
       happened after the marker — the commit is durable);
    2. the batch's rows land under ``{data_dir}/batch_id=N``
       (overwrite — a crash BEFORE the marker leaves invisible debris
       this replay simply rewrites);
    3. the new manifest = latest committed manifest + one
       build_manifest pass over JUST the new files (incremental: the
       old files are never re-scanned);
    4. ``commit_snapshot(..., batch_id=N)`` — marker last.

    Every version remains time-travelable mid-stream:
    ``read_snapshot(log_dir, v, base_path=data_dir)`` (basePath
    recovers the batch_id partition column). Empty batches still
    commit (same manifest, advanced batch_id) so the replay guard
    never regresses.

    ``partition_by`` lays each batch's files out under derived
    partition directories WITHIN the batch dir (hidden-partitioning
    style — the caller stages the derived column, e.g.
    retrieval.term_bucket, before the write): the manifest then
    carries exact per-file min/max for any such column named in
    ``tracked_cols``, so a point predicate on it FILE-PRUNES at
    planning time (the term-bucketed BM25 postings layout)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        done = latest_committed_batch(spark, log_dir)
        if done is not None and done >= batch_id:
            return
        versions = snapshot_versions(spark, log_dir)
        base = read_manifest(spark, log_dir) if versions else None
        if batch.isEmpty():
            if base is None:
                return  # nothing to commit a snapshot OF yet
            commit_snapshot(spark, log_dir, base, batch_id=batch_id)
            return
        out = os.path.join(data_dir, f"batch_id={batch_id}")
        writer = batch.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        fresh = build_manifest(spark, out, tracked_cols)
        manifest = (
            base.unionByName(fresh.select(*base.columns))
            if base is not None
            else fresh
        )
        commit_snapshot(spark, log_dir, manifest, batch_id=batch_id)

    return write_batch


def scan_appends(
    spark: SparkSession,
    log_dir: str,
    from_version: int,
    to_version: int | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """Incremental read: the rows ADDED between two committed
    snapshots — exactly the files ``to_version``'s manifest holds
    that ``from_version``'s does not, which with
    ``snapshot_append_writer`` means "the micro-batches committed
    after my last read". This is what lets a downstream consumer
    (an index refresher, a dedup history builder) process each
    snapshot delta exactly once without replaying the table.

    Sound ONLY while history is append-only between the two pins: a
    compaction or COW delete REMOVES files, after which the file
    diff is no longer the row diff — the scan detects any removed
    file and raises instead of silently double-counting rewritten
    rows. Planning is two manifest reads + a set diff, bounded by
    file count."""
    m_from = read_manifest(spark, log_dir, from_version)
    m_to = read_manifest(spark, log_dir, to_version)
    from_files = {r.file for r in m_from.select("file").collect()}
    to_files = {r.file for r in m_to.select("file").collect()}
    removed = from_files - to_files
    if removed:
        raise ValueError(
            "history between the two versions is not append-only "
            f"({len(removed)} file(s) rewritten or deleted, e.g. "
            f"{sorted(removed)[0]!r}); incremental file-diff reads "
            "would double-count — re-read the full snapshot instead"
        )
    return read_files(spark, m_to, sorted(to_files - from_files), base_path)


# --- named refs: tags and branches --------------------------------------

_REF_RE = re.compile(r"^[A-Za-z0-9._-]{1,64}$")


def _ref_path(log_dir: str, name: str) -> str:
    if not _REF_RE.match(name):
        raise ValueError(
            f"ref name {name!r} must match {_REF_RE.pattern}"
        )
    return os.path.join(log_dir, f"ref-{name}")


def set_ref(
    spark: SparkSession,
    log_dir: str,
    name: str,
    version: int,
    kind: str = "tag",
) -> None:
    """Name a committed version: ``kind='tag'`` is immutable
    (re-setting raises — a release pin must never silently move),
    ``kind='branch'`` is movable (overwrite — the 'prod' pointer a
    publisher advances). A ref is a 1-row parquet beside the
    snapshots; resolving it costs one tiny read. Refs pin versions,
    and ``expire_snapshots`` only counts positions from the newest —
    retention for a tagged log should keep at least back to the
    oldest tag (documented contract, same as every table format's
    'expiring a tagged snapshot breaks the tag')."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"kind must be 'tag' or 'branch', got {kind!r}")
    if version not in snapshot_versions(spark, log_dir):
        raise ValueError(
            f"version {version} is not a committed snapshot of {log_dir!r}"
        )
    row = spark.createDataFrame(
        [(name, version, kind)], "name string, version int, kind string"
    ).coalesce(1)
    mode = "overwrite" if kind == "branch" else "errorifexists"
    if kind == "branch":
        # a tag must not be silently demoted to a movable pointer
        existing = _read_ref(spark, log_dir, name)
        if existing is not None and existing[1] == "tag":
            raise ValueError(f"ref {name!r} is an immutable tag")
    row.write.mode(mode).parquet(_ref_path(log_dir, name))


def _read_ref(
    spark: SparkSession, log_dir: str, name: str
) -> tuple[int, str] | None:
    p = _ref_path(log_dir, name)
    if not _STORE.is_dir(p):
        return None
    r = spark.read.parquet(p).first()
    return (int(r.version), r.kind)


def resolve_ref(spark: SparkSession, log_dir: str, name: str) -> int:
    """The version a ref points at; raises on an unknown ref or one
    whose snapshot has been expired out from under it."""
    got = _read_ref(spark, log_dir, name)
    if got is None:
        raise ValueError(f"unknown ref {name!r} in {log_dir!r}")
    version, _ = got
    if version not in snapshot_versions(spark, log_dir):
        raise ValueError(
            f"ref {name!r} points at expired version {version} — "
            "retention outran the ref"
        )
    return version


def list_refs(spark: SparkSession, log_dir: str) -> dict[str, tuple[int, str]]:
    """name -> (version, kind) for every ref of the log."""
    out: dict[str, tuple[int, str]] = {}
    for entry in _STORE.list_dirs(log_dir):
        if entry.startswith("ref-"):
            name = entry[len("ref-"):]
            got = _read_ref(spark, log_dir, name)
            if got is not None:
                out[name] = got
    return out


# --- write-audit-publish (WAP) ----------------------------------------


def stage_snapshot(
    spark: SparkSession,
    staging_log: str,
    manifest: DataFrame,
    batch_id: int | None = None,
) -> int:
    """Stage a manifest on a SEPARATE snapshot log (Iceberg's WAP
    branch): durable, time-travelable, auditable by any process —
    and invisible to every reader of the main log until published.
    Data files are shared (manifests are pointers); only the
    manifest's visibility moves."""
    return commit_snapshot(spark, staging_log, manifest, batch_id=batch_id)


def publish_snapshot(
    spark: SparkSession,
    staging_log: str,
    staged_version: int,
    main_log: str,
    expect_latest: int | None = None,
) -> int:
    """Promote a staged version to the main log: read the staged
    manifest, commit it (optionally CAS-guarded). The staged
    snapshot stays in the staging log for audit lineage until its
    retention expires it."""
    m = read_manifest(spark, staging_log, staged_version)
    return commit_snapshot(spark, main_log, m, expect_latest=expect_latest)


def audit_and_publish(
    spark: SparkSession,
    staging_log: str,
    staged_version: int,
    main_log: str,
    audits: dict,
    base_path: str | None = None,
    expect_latest: int | None = None,
) -> dict:
    """The WAP gate: run every audit against the STAGED snapshot's
    rows (name -> callable(DataFrame) -> truthy; an exception counts
    as a failure with its message recorded) and publish ONLY if all
    pass. Returns {published, version, audits: {name: 'pass' |
    failure reason}}. The pattern every quality-gated ingest wants:
    bad data is durably staged for forensics, never visible to
    consumers, and the publish itself is marker-last atomic (+ CAS
    when ``expect_latest`` is given)."""
    staged = read_snapshot(
        spark, staging_log, staged_version, base_path=base_path
    )
    verdicts: dict[str, str] = {}
    ok = True
    for name, fn in audits.items():
        try:
            passed = bool(fn(staged))
        except Exception as exc:  # an audit that blows up is a fail
            verdicts[name] = f"error: {exc}"
            ok = False
            continue
        verdicts[name] = "pass" if passed else "failed"
        ok = ok and passed
    if not ok:
        return {"published": False, "version": None, "audits": verdicts}
    version = publish_snapshot(
        spark, staging_log, staged_version, main_log, expect_latest
    )
    return {"published": True, "version": version, "audits": verdicts}


# --- retention: orphans, expire, vacuum -------------------------------


def rollback(
    spark: SparkSession,
    log_dir: str,
    to_version: int,
    expect_latest: int | None = None,
) -> int:
    """History-preserving ROLLBACK (Iceberg's rollback-to-snapshot):
    commit a NEW version whose manifest equals ``to_version``'s — a
    bad write is undone by moving the table POINTER, never by
    deleting history, so the rolled-back versions stay
    time-travelable (and auditable) until expire_snapshots retires
    them, and readers pinned mid-rollback see a consistent snapshot
    either way. Planning is one manifest read, bounded by file
    count; no data file is touched. The new commit inherits the
    log's batch watermark (``commit_rewrite``): a rollback undoes a
    batch's EFFECTS deliberately, which must not reopen the replay
    guard and let the stream re-apply it. ``expect_latest`` passes
    through to the CAS guard for concurrent-writer safety. Returns
    the new version."""
    return commit_rewrite(
        spark,
        log_dir,
        read_manifest(spark, log_dir, to_version),
        expect_latest=expect_latest,
    )


def orphan_files(expired: DataFrame, retained: DataFrame) -> DataFrame:
    """Distinct data files referenced by ``expired`` manifests and by
    NO ``retained`` one — the set a GC may delete. One file-keyed
    anti-join; both sides are manifests (bounded by file count)."""
    return (
        expired.select("file")
        .distinct()
        .join(retained.select("file").distinct(), "file", "left_anti")
    )


def expire_snapshots(
    spark: SparkSession, log_dir: str, keep_latest: int = 2
) -> tuple[list[int], list[str]]:
    """Expire every committed snapshot but the newest
    ``keep_latest``: returns (expired_versions, orphan_data_files)
    and removes the expired snapshot directories (their manifests and
    markers). Data files are NOT touched — pass the orphan list to
    ``vacuum`` for that; computing is cheap and reversible, deleting
    is neither."""
    if keep_latest < 1:
        raise ValueError("keep_latest must be >= 1")
    versions = snapshot_versions(spark, log_dir)
    expired = versions[:-keep_latest]
    if not expired:
        return [], []
    retained = versions[-keep_latest:]
    exp_m = spark.read.parquet(
        *[os.path.join(_snap_dir(log_dir, v), "manifest") for v in expired]
    )
    ret_m = spark.read.parquet(
        *[os.path.join(_snap_dir(log_dir, v), "manifest") for v in retained]
    )
    orphans = sorted(r.file for r in orphan_files(exp_m, ret_m).collect())
    for v in expired:
        _STORE.remove_tree(_snap_dir(log_dir, v))
    return expired, orphans


def vacuum(orphans: list[str]) -> int:
    """Unlink the orphan data files (the list ``expire_snapshots``
    returned); missing files are skipped (a re-run after a partial
    failure is a no-op, not an error). Returns the number removed."""
    removed = 0
    for f in orphans:
        p = _local_path(f)
        if _STORE.is_file(p):
            _STORE.remove_file(p)
            removed += 1
    return removed


def maintain(
    spark: SparkSession,
    log_dir: str,
    target_rows: int,
    out_dir: str,
    sort_col: str | None = None,
    keep_latest: int = 2,
) -> dict:
    """One housekeeping pass over the table — the OPTIMIZE loop a
    long-lived streaming table needs, composed from the pieces:
    compact the latest snapshot's small files (optimize.
    compact_small_files on one plan per pass — a no-op commit is
    skipped entirely),
    commit the compacted manifest (``commit_rewrite``: the batch
    watermark carries), expire everything but the newest
    ``keep_latest`` versions, and vacuum the orphans. Safe to run on
    a schedule alongside ``snapshot_append_writer``: appends between
    the manifest read and the commit are NOT lost — they live in
    their own snapshot, and the next pass folds them. Each pass
    rewrites into its own ``fresh_dir(out_dir)``, so repeated passes
    never overwrite files a retained snapshot still references.
    Every layout runs through here: on a partition-encoded log (the
    term-bucketed index stores) the compactor keeps each bin within
    one partition value and restores the directories. Returns a
    small audit dict (committed version or None, expired versions,
    orphan count, vacuumed count).

    Caveat: once a snapshot mixes file roots (data dir + optimize
    generations), directory-encoded columns the manifest does not
    track — like the append writer's ``batch_id`` — are NOT
    recoverable via basePath any more: an OPTIMIZE rewrite keeps
    only real columns and tracked partition columns. Read
    post-maintenance snapshots without ``base_path``; if such a
    value must survive compaction, materialize it as a column before
    writing."""
    from .optimize import compact_small_files, plan_compaction

    manifest = read_manifest(spark, log_dir)
    plan = plan_compaction(manifest, target_rows)  # one manifest collect per pass
    _, bins, _ = plan
    version = None
    if bins:
        compacted = compact_small_files(
            spark, manifest, plan, fresh_dir(out_dir), sort_col
        )
        version = commit_rewrite(spark, log_dir, compacted)
    expired, orphans = expire_snapshots(spark, log_dir, keep_latest)
    return {
        "compacted_version": version,
        "expired": expired,
        "orphans": len(orphans),
        "vacuumed": vacuum(orphans),
    }


# --- driver oracle: COW-delete planning audit -------------------------

#: docs per synthetic file in the audit layout (sf0.01 → 32 files)
_COW_FILE_ROWS = 16


def cow_delete_audit(docs: DataFrame) -> DataFrame:
    """(file_id, n_before, id_min, id_max, action, n_after): the
    copy-on-write delete plan over a deterministic fixed-width layout
    of ``documents`` — file_id = doc_id DIV 16, delete range = the
    middle [3/8, 5/8] of the table's doc_id span (derived in-plan
    from one scalar aggregate, all-integer so both engines agree
    exactly). Carried files keep every row; rewritten files keep the
    rows outside the range — n_before/n_after quantify the rewrite
    the plan buys vs a full rewrite. The REAL plan_cow_delete does
    the classification; the synthetic manifest is one hash aggregate
    keyed by file_id."""
    bounds = docs.agg(
        F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi")
    ).select(
        F.expr("__lo + (3 * (__hi - __lo)) DIV 8").alias("__dlo"),
        F.expr("__lo + (5 * (__hi - __lo)) DIV 8").alias("__dhi"),
    )
    per_file = (
        docs.crossJoin(F.broadcast(bounds))
        .withColumn("file_id", F.expr(f"doc_id DIV {_COW_FILE_ROWS}"))
        .groupBy("file_id", "__dlo", "__dhi")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.sum(
                F.when(
                    F.col("doc_id").between(F.col("__dlo"), F.col("__dhi")),
                    F.lit(0),
                ).otherwise(F.lit(1))
            ).alias("n_after"),
        )
    )
    planned = plan_cow_delete(
        per_file, "doc_id", F.col("__dlo"), F.col("__dhi")
    )
    return planned.select(
        "file_id",
        "n_before",
        F.col("doc_id_min").alias("id_min"),
        F.col("doc_id_max").alias("id_max"),
        "action",
        "n_after",
    )


_COW_ORACLE = f"""
WITH b AS (
  SELECT CAST(min(doc_id) + (3 * (max(doc_id) - min(doc_id))) // 8 AS BIGINT) AS dlo,
         CAST(min(doc_id) + (5 * (max(doc_id) - min(doc_id))) // 8 AS BIGINT) AS dhi
  FROM documents
),
per_file AS (
  SELECT doc_id // {_COW_FILE_ROWS} AS file_id,
         CAST(count(*) AS BIGINT) AS n_before,
         min(doc_id) AS id_min,
         max(doc_id) AS id_max,
         CAST(sum(CASE WHEN doc_id BETWEEN (SELECT dlo FROM b)
                                       AND (SELECT dhi FROM b)
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_after
  FROM documents
  GROUP BY file_id
)
SELECT file_id, n_before, id_min, id_max,
       CASE WHEN id_max >= (SELECT dlo FROM b)
             AND id_min <= (SELECT dhi FROM b)
            THEN 'rewrite' ELSE 'carry' END AS action,
       n_after
FROM per_file
"""


def cow_merge_audit(docs: DataFrame) -> DataFrame:
    """(file_id, n_before, id_min, id_max, action, n_replaced,
    n_inserted): the copy-on-write MERGE plan over a deterministic
    fixed-width layout of ``documents`` with planted holes — base
    table = docs with ``doc_id % 7 != 5`` dropped (so some update
    keys fall INSIDE a file's range but match no row: range-local
    inserts), update keys = ``doc_id % 3 == 0`` localized to every
    4th file (so the plan shows BOTH rewrite and carry) plus
    ``doc_id % 5 == 0`` shifted past the table's span (pure
    inserts, derived in-plan from one scalar aggregate). The REAL
    plan_cow_merge does the rewrite/carry classification; the audit
    splits each file's incoming keys into replaced (key exists) vs
    inserted (hole), and a final ``file_id = -1 / action = 'insert'``
    row accounts for every key outside all file ranges — so the
    three-way accounting (replaced + range inserts + outside
    inserts = all update keys) is closed."""
    span = docs.agg((F.max("doc_id") + F.lit(1)).alias("__span"))
    base = docs.filter(F.col("doc_id") % 7 != 5)
    upd_rep = docs.filter(
        (F.col("doc_id") % 3 == 0)
        & (F.expr(f"doc_id DIV {_COW_FILE_ROWS}") % 4 == 0)
    ).select(F.col("doc_id").alias("k"))
    upd_ins = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .crossJoin(F.broadcast(span))
        .select((F.col("doc_id") + F.col("__span")).alias("k"))
    )
    updates = upd_rep.unionByName(upd_ins)
    per_file = (
        base.withColumn("file_id", F.expr(f"doc_id DIV {_COW_FILE_ROWS}"))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
        )
    )
    plan = plan_cow_merge(
        per_file, "doc_id", updates, key_col="k", file_col="file_id"
    )
    in_range = updates.join(
        F.broadcast(per_file.select("file_id", "doc_id_min", "doc_id_max")),
        (F.col("k") >= F.col("doc_id_min"))
        & (F.col("k") <= F.col("doc_id_max")),
        "inner",
    )
    tagged = in_range.join(
        base.select(F.col("doc_id").alias("k"), F.lit(True).alias("__ex")),
        "k",
        "left",
    )
    per_counts = tagged.groupBy("file_id").agg(
        F.sum(F.when(F.col("__ex"), 1).otherwise(0))
        .cast("long")
        .alias("n_replaced"),
        F.sum(F.when(F.col("__ex"), 0).otherwise(1))
        .cast("long")
        .alias("n_inserted"),
    )
    rows = (
        plan.join(per_counts, "file_id", "left")
        .select(
            "file_id",
            "n_before",
            F.col("doc_id_min").alias("id_min"),
            F.col("doc_id_max").alias("id_max"),
            "action",
            F.coalesce("n_replaced", F.lit(0)).cast("long").alias("n_replaced"),
            F.coalesce("n_inserted", F.lit(0)).cast("long").alias("n_inserted"),
        )
    )
    outside = (
        updates.join(in_range.select("k"), "k", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(-1).cast("long").alias("file_id"),
            F.lit(0).cast("long").alias("n_before"),
            F.lit(-1).cast("long").alias("id_min"),
            F.lit(-1).cast("long").alias("id_max"),
            F.lit("insert").alias("action"),
            F.lit(0).cast("long").alias("n_replaced"),
            F.col("n").cast("long").alias("n_inserted"),
        )
    )
    return rows.unionByName(outside)


_MERGE_ORACLE = f"""
WITH span AS (SELECT max(doc_id) + 1 AS s FROM documents),
base AS (SELECT doc_id FROM documents WHERE doc_id % 7 <> 5),
updates AS (
  SELECT doc_id AS k FROM documents
  WHERE doc_id % 3 = 0 AND (doc_id // {_COW_FILE_ROWS}) % 4 = 0
  UNION ALL
  SELECT doc_id + (SELECT s FROM span) FROM documents WHERE doc_id % 5 = 0
),
per_file AS (
  SELECT doc_id // {_COW_FILE_ROWS} AS file_id,
         CAST(count(*) AS BIGINT) AS n_before,
         min(doc_id) AS id_min, max(doc_id) AS id_max
  FROM base GROUP BY 1
),
in_range AS (
  SELECT u.k, p.file_id FROM updates u
  JOIN per_file p ON u.k BETWEEN p.id_min AND p.id_max
),
tagged AS (
  SELECT i.file_id,
         CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS ex
  FROM in_range i LEFT JOIN base b ON i.k = b.doc_id
),
per_counts AS (
  SELECT file_id, CAST(sum(ex) AS BIGINT) AS n_replaced,
         CAST(sum(1 - ex) AS BIGINT) AS n_inserted
  FROM tagged GROUP BY 1
)
SELECT CAST(p.file_id AS BIGINT) AS file_id, p.n_before,
       CAST(p.id_min AS BIGINT) AS id_min,
       CAST(p.id_max AS BIGINT) AS id_max,
       CASE WHEN c.file_id IS NULL THEN 'carry' ELSE 'rewrite' END
         AS action,
       CAST(coalesce(c.n_replaced, 0) AS BIGINT) AS n_replaced,
       CAST(coalesce(c.n_inserted, 0) AS BIGINT) AS n_inserted
FROM per_file p LEFT JOIN per_counts c USING (file_id)
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(-1 AS BIGINT),
       CAST(-1 AS BIGINT), 'insert', CAST(0 AS BIGINT),
       CAST((SELECT count(*) FROM updates u WHERE NOT EXISTS
             (SELECT 1 FROM per_file p
              WHERE u.k BETWEEN p.id_min AND p.id_max)) AS BIGINT)
"""


@query("q_merge_cow", oracle=_MERGE_ORACLE)
def q_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE planning, measured as the write path sees
    it: per synthetic file, the REAL plan_cow_merge rewrite/carry
    classification against planted update keys, with each file's
    incoming keys split into replacements vs range-local inserts
    (the planted holes) and a closing row for the keys outside every
    file range. The oracle reproduces the hole pattern, the span
    shift, the range join and the three-way accounting exactly."""
    from ..catalog import load

    return cow_merge_audit(load(spark, sf_dir, "documents"))


def cow_update_audit(docs: DataFrame) -> DataFrame:
    """(file_id, n_rows, action, n_updated, chars_after): the
    copy-on-write UPDATE plan + value semantics over the same
    fixed-width layout as cow_delete_audit — UPDATE SET
    ``n_chars = n_chars * 2 + 7`` WHERE doc_id in the in-plan
    middle [3/8, 5/8] range. The REAL plan_cow_delete does the
    rewrite/carry classification (update planning IS delete
    planning — a file can hold a matched row iff its range
    intersects the predicate); chars_after folds the assignment
    under the predicate per file, all-integer so both engines agree
    exactly. A carried file must show n_updated = 0 AND
    chars_after = its original char sum — the invariant that makes
    carrying safe."""
    bounds = docs.agg(
        F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi")
    ).select(
        F.expr("__lo + (3 * (__hi - __lo)) DIV 8").alias("__dlo"),
        F.expr("__lo + (5 * (__hi - __lo)) DIV 8").alias("__dhi"),
    )
    per_file = (
        docs.crossJoin(F.broadcast(bounds))
        .withColumn("file_id", F.expr(f"doc_id DIV {_COW_FILE_ROWS}"))
        .groupBy("file_id", "__dlo", "__dhi")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.sum(
                F.when(
                    F.col("doc_id").between(F.col("__dlo"), F.col("__dhi")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("long").alias("n_updated"),
            F.sum(
                F.when(
                    F.col("doc_id").between(F.col("__dlo"), F.col("__dhi")),
                    F.col("n_chars") * 2 + 7,
                ).otherwise(F.col("n_chars"))
            ).cast("long").alias("chars_after"),
        )
    )
    planned = plan_cow_delete(
        per_file, "doc_id", F.col("__dlo"), F.col("__dhi")
    )
    return planned.select(
        "file_id", "n_rows", "action", "n_updated", "chars_after"
    )


_COW_UPDATE_ORACLE = f"""
WITH b AS (
  SELECT CAST(min(doc_id) + (3 * (max(doc_id) - min(doc_id))) // 8 AS BIGINT) AS dlo,
         CAST(min(doc_id) + (5 * (max(doc_id) - min(doc_id))) // 8 AS BIGINT) AS dhi
  FROM documents
),
per_file AS (
  SELECT doc_id // {_COW_FILE_ROWS} AS file_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         min(doc_id) AS id_min,
         max(doc_id) AS id_max,
         CAST(sum(CASE WHEN doc_id BETWEEN (SELECT dlo FROM b)
                                       AND (SELECT dhi FROM b)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
         CAST(sum(CASE WHEN doc_id BETWEEN (SELECT dlo FROM b)
                                       AND (SELECT dhi FROM b)
                       THEN n_chars * 2 + 7 ELSE n_chars END) AS BIGINT)
           AS chars_after
  FROM documents
  GROUP BY file_id
)
SELECT file_id, n_rows,
       CASE WHEN id_max >= (SELECT dlo FROM b)
             AND id_min <= (SELECT dhi FROM b)
            THEN 'rewrite' ELSE 'carry' END AS action,
       n_updated, chars_after
FROM per_file
"""


@query("q_cow_update", oracle=_COW_UPDATE_ORACLE)
def q_cow_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE planning + value semantics: per
    synthetic file, the REAL plan_cow_delete range classification
    (update planning is delete planning) and the per-file fold of
    ``SET n_chars = n_chars * 2 + 7`` under the middle-[3/8, 5/8]
    predicate — all-integer, so a drift in the classification, the
    range derivation or the assignment arithmetic breaks the value
    hash. The on-disk rewrite (only-matched-files, carried files
    byte-identical, time travel to pre-update values) is
    pytest-locked in tests/test_snapshots.py."""
    from ..catalog import load

    return cow_update_audit(load(spark, sf_dir, "documents"))


@query("q_cow_delete", oracle=_COW_ORACLE)
def q_cow_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write delete planning, measured as the write path
    sees it: per synthetic file, the rows before, the REAL
    plan_cow_delete classification against the in-plan middle-[3/8,
    5/8] doc_id range, and the rows a rewrite would keep. The oracle
    reproduces the fixed-width layout, the integer range derivation
    and the intersection test exactly — a drift in any of them (an
    off-by-one on the closed range, a wrong DIV) breaks the value
    hash."""
    from ..catalog import load

    return cow_delete_audit(load(spark, sf_dir, "documents"))
