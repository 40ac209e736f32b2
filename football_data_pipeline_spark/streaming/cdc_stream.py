"""Streaming CDC materialized view — the streaming form of
operators/cdc.apply_changes, log-structured (LSM-style) so a
micro-batch never rewrites the view:

- WRITE path (``cdc_snapshot_writer``, a foreachBatch body): each
  micro-batch of changes is collapsed to its per-key winners (the
  same one-aggregate max-struct collapse the batch operator uses —
  operators/cdc.collapse_log) and appended to a snapshot table
  (``{root}/winners_log`` + ``{root}/winners_data``,
  sources/snapshots.snapshot_append_writer): marker-last atomic
  commits with the batch_id replay guard, so a crash-restart
  re-running batch N either rewrites its invisible debris or skips
  a commit that already landed. Write cost is bounded by the batch,
  never by the view.
- READ path (``read_cdc_snapshot_log``): the committed winners table
  (or any earlier version — the view AS OF any commit is one pin
  away) plus an optional caller-supplied external base (as
  seq=BASE_SEQ pseudo-changes that lose to ANY real change), one
  global collapse, 'D' winners dropped. Out-of-order delivery ACROSS
  batches is handled by construction — a late low-seq change loses
  the global collapse, so state never regresses (the property the
  batch operator cannot give a naive per-batch applier).
- MAINTENANCE splits in two, each bounded: maintain() bin-packs
  small FILES without touching rows; ``compact_cdc_snapshot`` is the
  LSM fold (row-level GC of overwritten winners) as a COW rewrite
  commit. The fold keeps the winning __seq AND the 'D' tombstones: a
  tombstone dropped at compaction would let a late lower-seq 'U'
  resurrect the key with stale state, so deletes stay until their
  key is overwritten by a higher change. The fold writes into a
  ``snapshots.fresh_dir`` and commits through
  ``snapshots.commit_rewrite``, so the replay guard survives it.

At 100 TB: the winner sets are per-batch (small), the view collapse
is one hash aggregate keyed on the CDC key — the reader is the same
shape as the batch apply's winner side; the expensive fold runs
only when the caller schedules it (its cadence trades write
amplification against read amplification, exactly an LSM level-0
compaction) or in a table format's MERGE, never per batch.

Real seqs must be >= 0 (BASE_SEQ = -1 sits strictly below them);
enforced by a plan-embedded check in the writer.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import collapse_log

#: external base rows enter the collapse below every real change
BASE_SEQ = -1


def cdc_snapshot_writer(
    root: str,
    key: str,
    seq_col: str,
    op_col: str,
    payload_cols: list[str],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: collapse this micro-batch's changes per key
    and append the winners to the ``{root}/winners_log`` snapshot
    table (module docstring: replay-guarded, marker-last). Negative
    sequence numbers are rejected in-plan (they would collide with
    the base sentinel)."""
    from ..sources.snapshots import snapshot_append_writer

    winners_w = snapshot_append_writer(
        f"{root}/winners_log", f"{root}/winners_data", []
    )

    def write_batch(changes: DataFrame, batch_id: int) -> None:
        # the guard REPLACES the seq value (a dropped side column's
        # raise_error would be pruned as dead code)
        guarded = changes.withColumn(
            seq_col,
            F.when(F.col(seq_col) >= 0, F.col(seq_col)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("cdc seq must be >= 0, got "),
                        F.col(seq_col).cast("string"),
                    )
                ).cast("long")
            ),
        )
        winners = collapse_log(guarded, key, seq_col, op_col, payload_cols)
        winners_w(winners, batch_id)

    return write_batch


def read_cdc_snapshot_log(
    spark: SparkSession,
    root: str,
    key: str,
    payload_cols: list[str],
    base: DataFrame | None = None,
    keep_seq: bool = False,
    keep_tombstones: bool = False,
    version: int | None = None,
) -> DataFrame:
    """The materialized view: (key, payload...) of the latest
    surviving state per key — identical semantics to
    operators/cdc.apply_changes, robust to out-of-order and duplicate
    delivery across batches. Reads the latest committed winners table
    (or ``version`` — the view AS OF any commit is one pin away) plus
    an optional external ``base``, one global collapse, 'D' winners
    dropped unless kept.

    An external ``base`` with __seq/__op columns re-enters at those
    recorded values (a materialized ``keep_seq`` view used as the
    next base); otherwise its rows enter at seq=BASE_SEQ/op='U' and
    lose to any real change. ``keep_seq``/``keep_tombstones`` expose
    the compaction form: winning __seq kept, 'D' winners retained."""
    from ..sources.snapshots import read_snapshot, snapshot_versions

    log = f"{root}/winners_log"
    parts: list[DataFrame] = []
    if version is not None or snapshot_versions(spark, log):
        winners = read_snapshot(spark, log, version=version)
        parts.append(winners.select(key, "__seq", "__op", *payload_cols))
    if base is not None:
        base_cols = set(base.columns)
        base_seq = (
            F.col("__seq") if "__seq" in base_cols else F.lit(BASE_SEQ)
        ).cast("long")
        base_op = F.col("__op") if "__op" in base_cols else F.lit("U")
        parts.append(
            base.select(
                key,
                base_seq.alias("__seq"),
                base_op.alias("__op"),
                *payload_cols,
            )
        )
    if not parts:
        raise ValueError("read_cdc_snapshot_log: no log yet and no base given")
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    snap = collapse_log(union, key, "__seq", "__op", payload_cols)
    if not keep_tombstones:
        snap = snap.filter(F.col("__op") != "D")
    keep = [key, *payload_cols]
    if keep_seq:
        keep.append("__seq")
    if keep_tombstones:
        keep.append("__op")
    return snap.select(*keep)


def compact_cdc_snapshot(
    spark: SparkSession,
    root: str,
    key: str,
    payload_cols: list[str],
) -> int:
    """The LSM fold for the snapshot-backed view, as a COW rewrite:
    collapse the winners table to ONE row per key (winning __seq and
    'D' tombstones KEPT — a tombstone dropped here would let a late
    lower-seq 'U' resurrect the key with stale state), land the
    folded rows in their own generation dir, and commit the new
    manifest. Old versions stay time-travelable until
    expire_snapshots. The folded rows land in
    ``fresh_dir({root}/winners_fold)`` — numbered past any crashed
    fold's debris — and the commit INHERITS the log's batch
    watermark (``commit_rewrite``), so the replay guard survives any
    retention policy. Returns the folded snapshot's version."""
    from ..sources.manifest import build_manifest
    from ..sources.snapshots import commit_rewrite, fresh_dir

    snap = read_cdc_snapshot_log(
        spark, root, key, payload_cols, keep_seq=True, keep_tombstones=True
    )
    out = fresh_dir(f"{root}/winners_fold")
    snap.write.mode("errorifexists").parquet(out)
    return commit_rewrite(
        spark, f"{root}/winners_log", build_manifest(spark, out, [])
    )
