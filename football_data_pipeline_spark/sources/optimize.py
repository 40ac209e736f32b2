"""Small-file compaction (OPTIMIZE bin-packing) — the layout
MAINTENANCE half of the manifest/zorder story. Reference parity:
yml:661-680 only VACUUMs; this is the Delta ``OPTIMIZE`` / Iceberg
``rewrite_data_files`` analogue for the engine's plain-Parquet +
manifest layout.

Why: streaming funnels and incremental writes accrete small files
(one per micro-batch partition); at 100 TB a table of millions of
KB-sized files spends more time planning splits than scanning.
Compaction bin-packs the undersized files into target-sized ones —
WITHOUT touching the already-right-sized files, which is what
separates OPTIMIZE from sinks.rewrite_table's full rewrite.

Manifest-first design (the Iceberg view: the MANIFEST is the table,
directories are just storage):

- ``plan_compaction``: first-fit-decreasing over the manifest's
  per-file row counts — driver-side, bounded by FILE count (the
  same planning-time work prune_files does). Files with
  ``n_rows >= target_rows`` are left alone; the rest pack into bins
  of capacity ``target_rows``.
- ``compact_small_files``: per bin, read exactly that bin's files →
  one output file (optionally re-sorted on the cluster column so
  min/max stay TIGHT — compaction must not undo zorder/linear
  clustering) → returns the NEW manifest: untouched files' rows
  carried over verbatim + freshly measured rows for the bin files.
  Readers that consume the manifest (manifest.pruned_read,
  zorder.read_box take explicit file lists) switch atomically by
  switching manifests; the replaced small files become orphans for
  retention GC, exactly a table format's snapshot semantics.

100 TB shape: planning is one manifest collect; the rewrite reads
ONLY the undersized tail (bin count × target_rows rows) and is ONE
Spark job for every bin — the driver-held file→bin map broadcast
onto input_file_name(), a bin-keyed repartition (each bin's rows in
exactly one task), and a bin-partitioned write (exactly one file
per bin; working columns are dunder-reserved so user tables named
'file'/'bin' survive untouched) — so a 100k-small-file backlog
compacts at cluster
parallelism instead of thousands of sequential per-bin jobs
(VERDICT r10 item 7). Never a full-table pass.

Many-bin probe (local[32], 240 files of 100 rows → 40 bins,
medians of 3): per-bin loop 17.8 s, one-job path 3.9 s — 4.5×; the
gap is pure job-launch/commit serialization and widens with bin
count (the loop is O(bins) job launches, the one-job path O(1)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import build_manifest


def compact_partitioned_log(
    spark: SparkSession,
    log_dir: str,
    part_col: str,
    target_rows: int,
    out_dir: str,
) -> int | None:
    """OPTIMIZE for a snapshot log whose data files live under a
    DIRECTORY-ENCODED partition column (snapshot_append_writer's
    ``partition_by`` — e.g. the term-bucketed BM25 postings/dfs
    stores): bin-pack each partition VALUE's small files without ever
    crossing values. Generic compact_small_files cannot run here at
    all — the column is not IN the data files, so its tracked-column
    aggregate fails to resolve — and even a fixed generic pass would
    be WRONG for this layout: cross-value packing widens the per-file
    min/max the readers prune on, eroding the very skip the layout
    exists to provide.

    Same one-job discipline as compact_small_files (driver-held
    file→bin map broadcast onto input_file_name(), bin-keyed
    repartition, partitioned write), with the partition dirs RESTORED
    on write so per-file min == max == the value stays exact. Files
    whose min != max (legacy/mixed) are carried untouched; files
    whose value is NULL (the presence-row default partition the
    bucketed postings writer emits one per batch) bin-pack as their
    own partition group (ADVICE r12 — carrying them forever is a
    slow small-file leak the maintain loop could never drain;
    NULL-to-NULL packing keeps the prune contract intact because a
    term prune never selects a NULL-bounds file). Commits the new
    manifest with the log's batch watermark (maintain()'s carry
    rule); returns the committed version, or None when nothing needs
    packing."""
    from .snapshots import (
        commit_snapshot,
        latest_committed_batch,
        read_manifest,
    )

    if target_rows < 1:
        raise ValueError("target_rows must be >= 1")
    manifest = read_manifest(spark, log_dir)
    mn, mx = f"{part_col}_min", f"{part_col}_max"
    if mn not in manifest.columns or mx not in manifest.columns:
        raise ValueError(
            f"manifest of {log_dir!r} does not track {part_col!r} — "
            "this compactor is for partition-encoded snapshot logs; "
            "use snapshots.maintain for plain layouts"
        )
    rows = manifest.select("file", "n_rows", mn, mx).collect()
    small: dict[int | None, list[tuple[int, str]]] = {}
    keep: list[str] = []
    for r in rows:
        v_lo, v_hi = r[mn], r[mx]
        # None == None groups the all-NULL (default-partition) files
        # together; mixed-bounds files (min != max) stay carried
        if r.n_rows < target_rows and v_lo == v_hi:
            key = None if v_lo is None else int(v_lo)
            small.setdefault(key, []).append((r.n_rows, r.file))
        else:
            keep.append(r.file)
    bins: list[tuple[int | None, list[str]]] = []
    for v in sorted(small, key=lambda k: (k is not None, k or 0)):
        fs = sorted(small[v], key=lambda t: (-t[0], t[1]))
        vbins: list[list[str]] = []
        loads: list[int] = []
        for n, f in fs:
            for i, load in enumerate(loads):
                if load + n <= target_rows:
                    vbins[i].append(f)
                    loads[i] += n
                    break
            else:
                vbins.append([f])
                loads.append(n)
        for b in vbins:
            if len(b) == 1:  # rewriting a lone file buys nothing
                keep.append(b[0])
            else:
                bins.append((v, b))
    if not bins:
        return None
    assign = spark.createDataFrame(
        [(f, v, i) for i, (v, fs) in enumerate(bins) for f in fs],
        f"__compact_file string, {part_col} long, __compact_bin int",
    )
    small_files = [f for _, fs in bins for f in fs]
    packed = (
        spark.read.parquet(*small_files)
        .withColumn("__compact_file", F.input_file_name())
        .join(F.broadcast(assign), "__compact_file")
        .drop("__compact_file")
        .repartition(len(bins), "__compact_bin")
    )
    packed.write.partitionBy(part_col, "__compact_bin").mode(
        "overwrite"
    ).parquet(out_dir)
    # reading the OUT root (not leaf globs) re-infers part_col from
    # the restored dirs, so the fresh manifest's min/max stay exact
    fresh = build_manifest(spark, out_dir, [part_col])
    carried = manifest.filter(F.col("file").isin(keep))
    merged = carried.unionByName(fresh.select(*carried.columns))
    return commit_snapshot(
        spark,
        log_dir,
        merged,
        batch_id=latest_committed_batch(spark, log_dir),
    )


def plan_compaction(
    manifest: DataFrame, target_rows: int
) -> tuple[list[list[str]], list[str]]:
    """(bins, keep_files): first-fit-decreasing packing of every
    file with fewer than ``target_rows`` rows into bins of that
    capacity; right-sized files stay in ``keep_files`` untouched.
    Deterministic: candidates ordered by (n_rows desc, path). The
    collect is bounded by the table's FILE count."""
    if target_rows < 1:
        raise ValueError("target_rows must be >= 1")
    rows = manifest.select("file", "n_rows").collect()
    small = sorted(
        ((r.n_rows, r.file) for r in rows if r.n_rows < target_rows),
        key=lambda t: (-t[0], t[1]),
    )
    keep = [r.file for r in rows if r.n_rows >= target_rows]
    bins: list[list[str]] = []
    loads: list[int] = []
    for n, f in small:
        for i, load in enumerate(loads):
            if load + n <= target_rows:
                bins[i].append(f)
                loads[i] += n
                break
        else:
            bins.append([f])
            loads.append(n)
    return bins, keep


def compact_small_files(
    spark: SparkSession,
    manifest: DataFrame,
    target_rows: int,
    out_dir: str,
    sort_col: str | None = None,
) -> DataFrame:
    """Rewrite the undersized files into ``out_dir`` (one file per
    bin, re-sorted on ``sort_col`` when given so clustering
    survives) and return the NEW manifest — carried-over rows for
    untouched files + measured rows for the compacted ones. The
    input manifest's tracked columns are preserved."""
    tracked = sorted(
        {
            c[: -len("_min")]
            for c in manifest.columns
            if c.endswith("_min") and f"{c[:-len('_min')]}_max" in manifest.columns
        }
    )
    bins, keep = plan_compaction(manifest, target_rows)
    carried = manifest.filter(F.col("file").isin(keep))
    if not bins:
        return carried
    # ONE job for every bin (VERDICT r10 item 7 — the per-bin driver
    # loop ran a backlog's thousands of bins strictly sequentially,
    # each paying full job-launch latency): broadcast the file→bin
    # map (driver already holds it, bounded by file count) onto
    # input_file_name(), hash-repartition on the bin so each bin's
    # rows land in exactly one task, and partitionBy the bin so that
    # task writes exactly one file per bin. Truly parallel across
    # bins. The working columns use dunder-reserved names (ADVICE
    # r11): a user table legitimately carrying 'file' or 'bin' must
    # not have them clobbered by the compactor's bookkeeping.
    assign = spark.createDataFrame(
        [(f, i) for i, bin_files in enumerate(bins) for f in bin_files],
        "__compact_file string, __compact_bin int",
    )
    small_files = [f for bin_files in bins for f in bin_files]
    packed = (
        spark.read.parquet(*small_files)
        .withColumn("__compact_file", F.input_file_name())
        .join(F.broadcast(assign), "__compact_file")
        .drop("__compact_file")
        .repartition(len(bins), "__compact_bin")
    )
    if sort_col is not None:
        # sorting by (bin, sort_col) keeps each bin's single output
        # file internally clustered — compaction must not undo
        # zorder/linear layout
        packed = packed.sortWithinPartitions("__compact_bin", sort_col)
    packed.write.partitionBy("__compact_bin").mode("overwrite").parquet(out_dir)
    # the leaf-dir glob hands Spark the bin directories directly, so
    # no bin partition column is inferred — compacted files read back
    # with the table's own schema, exactly like the old part-N layout
    fresh = build_manifest(spark, f"{out_dir}/__compact_bin=*", tracked)
    return carried.unionByName(fresh.select(*carried.columns))
