"""Every top-level function and class in the package is run by
something, or is kept on purpose.

One rule, read from the AST only (no Spark): a definition is reached
when a name, an attribute or an import alias refers to it in a
package module (its own module counts outside its own body),
``bench.py``, ``__spark_entry__.py``, ``perfbench/*.py`` or
``tools/*.py``, or when ``@query`` registers it. Text does not count:
a docstring mention is not a use. Tests do not count either.

A definition that nothing reaches stays only as
- an entry point a user runs: a ``start_*_pipeline`` or a
  ``foreachBatch`` ``*_writer``; or
- the one implementation of a capability with its own SURVEY.md row.
  The row must name it. A row keeps a capability, not a second path
  for it.

``KEEP`` holds exactly those definitions, each mapped to ENTRY or to
the first cell (or a unique prefix of it) of its SURVEY.md row.
Anything else that nothing reaches is deleted, with its tests.

A second AST rule holds the materialization rule: every cache in the
package lives in a ``functions/materialize.cached`` scope, so no other
module calls ``.cache()``, ``.persist()`` or ``.unpersist()``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "football_data_pipeline_spark"
ENTRY = "entry point"

KEEP = {
    # entry points
    "operators.drift.drift_batch_writer": ENTRY,
    "operators.paired.pair_curation_batch_writer": ENTRY,
    "operators.retrieval.index_append_writer": ENTRY,
    "streaming.cdc_stream.cdc_snapshot_writer": ENTRY,
    "streaming.media.start_media_gate_pipeline": ENTRY,
    "streaming.mediadedup.media_curation_snapshot_writer": ENTRY,
    "streaming.mediadedup.start_media_dedup_pipeline": ENTRY,
    "streaming.pipeline.curation_batch_writer": ENTRY,
    "streaming.pipeline.start_dedup_pipeline": ENTRY,
    "streaming.pipeline.substring_trim_snapshot_writer": ENTRY,
    "streaming.supersede.keep_best_snapshot_writer": ENTRY,
    "streaming.vectors.vector_ingest_snapshot_writer": ENTRY,
    # the reference's surface (SURVEY.md §2 and its coverage map)
    "sources.sinks.write_snapshot_json": "S3/S5 JSON snapshot + report sinks",
    "operators.reports.weekly_report": "gold report builders",
    "operators.reports.health_status": "gold report builders",
    "operators.reports.api_usage_report": "API-usage + daily mapping-stats report documents",
    "operators.reports.mapping_stats_report": "API-usage + daily mapping-stats report documents",
    "streaming.jobs.merge_jobs": "S6 job-queue read-modify-write",
    "streaming.jobs.synthesize_jobs": "T1-T4 job scheduling/expiry/GC",
    "streaming.jobs.due_jobs": "T1-T4 job scheduling/expiry/GC",
    "sources.sinks.apply_retention": "S7 retention DELETE+VACUUM",
    "operators.upsert.delete_where": "U5 keyed delete",
    "operators.resolution.learn_mappings": "F13 learning write-back",
    "operators.resolution.attempt_log": "F14 attempt log",
    "streaming.movement.movement_alerts": "T5 movement alerts (stateful streaming)",
    "streaming.notify.new_jobs_embed": "T6 notification sink",
    "streaming.notify.notification_sink": "bounded movement-alert collect",
    "streaming.notify.odds_lookup_embed": "Discord `!odds` command read path",
    "streaming.notify.team_form_embed": "Discord `!form` command read path",
    "streaming.notify.injury_alert_embed": "injury/suspension alert embed",
    "streaming.subscriptions.set_channel": "notification channel config + user subscriptions",
    "streaming.subscriptions.set_subscription": "notification channel config + user subscriptions",
    "streaming.subscriptions.channels_for": "notification channel config + user subscriptions",
    "streaming.subscriptions.subscribers_for": "notification channel config + user subscriptions",
    # scale extensions
    "sources.ingest.read_documents_jsonl": "corrupt-tolerant JSONL document source",
    "sources.ingest.split_corrupt": "corrupt-tolerant JSONL document source",
    "streaming.pipeline.dedup_stream": "streaming exact dedup, watermark-bounded state",
    "streaming.pipeline.read_corpus_snapshot": "snapshot-backed BASE dedup funnel",
    "streaming.supersede.read_live_corpus_snapshot": "keep-best streaming dedup / supersede",
    "streaming.windowed.user_sessions": "streaming sessionization via native session_window",
    "streaming.windowed.enrich_stream_stream": "watermarked stream-stream interval join",
    "streaming.cdc_stream.compact_cdc_snapshot": "snapshot-backed CDC view",
    "operators.multimodal.encode_png": "pure-Python PNG codec",
    "operators.multimodal.resize_images": "real multimodal pixel kernels",
    "operators.multimodal.image_stats": "real multimodal pixel kernels",
    "operators.audio.resample_nearest": "AUDIO tier of the multimodal layout",
    "operators.release.build_release": "one-call corpus release builder",
    "operators.retrieval.read_index": "materialized BM25 index",
    "operators.retrieval.maintain_index": "bucket-preserving index compaction",
    "sources.manifest.pruned_read": "file-manifest data skipping",
    "sources.zorder.write_zordered": "z-order (Morton) clustering",
    "sources.zorder.read_box": "z-order (Morton) clustering",
    "sources.bloomskip.read_point": "bloom-filter file skipping",
    "sources.mor.read_mor": "merge-on-read deletes",
    "sources.mor.fold_deletes": "merge-on-read deletes",
    "sources.mor.live_view": "merge-on-read deletes",
    "sources.mor.fold_retractions": "merge-on-read deletes",
    "sources.incremental.refresh_view": "incremental materialized-view maintenance",
    "sources.changelog.snapshot_changes": "snapshot changelog / CDF",
    "sources.changelog.changes_by_kind": "snapshot changelog / CDF",
    "sources.snapshots.set_snapshot_store": "snapshot-store seam",
    "sources.snapshots.version_as_of": "snapshot log / time travel",
    "sources.snapshots.delete_where_cow": "snapshot log / time travel",
    "sources.snapshots.stage_snapshot": "snapshot log / time travel",
    "sources.snapshots.audit_and_publish": "snapshot log / time travel",
    "sources.snapshots.set_ref": "snapshot log / time travel",
    "sources.snapshots.list_refs": "snapshot log / time travel",
    "sources.snapshots.update_where_cow": "copy-on-write UPDATE",
    "sources.snapshots.merge_cow": "copy-on-write MERGE",
    "sources.snapshots.rollback": "snapshot ROLLBACK verb",
}

_ENTRY_NAME = re.compile(r"start_\w+_pipeline|\w+_writer")

#: the one module that caches and releases frames
MATERIALIZE = ROOT / PKG / "functions" / "materialize.py"
CACHE_CALLS = {"cache", "persist", "unpersist"}


def _names(nodes) -> set[str]:
    out = set()
    for node in nodes:
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def _walk_outside(tree: ast.AST, skip: ast.AST):
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is not skip:
            yield node
            stack.extend(ast.iter_child_nodes(node))


def _registered(d: ast.AST) -> bool:
    for dec in getattr(d, "decorator_list", []):
        f = dec.func if isinstance(dec, ast.Call) else dec
        if _names([f]) == {"query"}:
            return True
    return False


def _scan() -> dict[str, bool]:
    """{'<module>.<name>': reached} over every top-level function and
    class of the package."""
    pkg_files = sorted((ROOT / PKG).rglob("*.py"))
    users = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    users += sorted((ROOT / "perfbench").glob("*.py"))
    users += sorted((ROOT / "tools").glob("*.py"))
    trees = {p: ast.parse(p.read_text(), str(p)) for p in pkg_files + users}
    refs = {p: _names(ast.walk(t)) for p, t in trees.items()}
    reached = {}
    for p in pkg_files:
        module = ".".join(p.relative_to(ROOT / PKG).with_suffix("").parts)
        for d in trees[p].body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            reached[f"{module}.{d.name}"] = (
                _registered(d)
                or any(d.name in refs[q] for q in trees if q != p)
                or d.name in _names(_walk_outside(trees[p], d))
            )
    return reached


def _survey_rows() -> list[tuple[str, str]]:
    """(first cell, whole line) of every SURVEY.md table row."""
    rows = []
    for line in (ROOT / "SURVEY.md").read_text().splitlines():
        if line.startswith("| "):
            cells = re.split(r"(?<!\\)\|", line)
            rows.append((cells[1].strip(), line))
    return rows


def test_every_unreached_definition_is_kept():
    reached = _scan()
    loose = sorted(n for n, hit in reached.items() if not hit and n not in KEEP)
    assert not loose, (
        f"reached by nothing and not in KEEP: {loose} — delete them with "
        "their tests, or add each to KEEP as an entry point or with the "
        "SURVEY.md row that names it"
    )


def test_keep_entries_are_current():
    reached = _scan()
    rows = _survey_rows()
    stale = []
    for qualified, why in KEEP.items():
        name = qualified.rsplit(".", 1)[-1]
        if qualified not in reached:
            stale.append(f"{qualified}: no longer defined")
        elif reached[qualified]:
            stale.append(f"{qualified}: reached, so KEEP need not hold it")
        elif why == ENTRY:
            if not _ENTRY_NAME.fullmatch(name):
                stale.append(f"{qualified}: not a start_*_pipeline or *_writer")
        else:
            exact = [line for cell, line in rows if cell == why]
            hits = exact or [line for cell, line in rows if cell.startswith(why)]
            if len(hits) != 1:
                stale.append(f"{qualified}: {len(hits)} SURVEY.md rows match {why!r}")
            elif not re.search(rf"\b{re.escape(name)}\b", hits[0]):
                stale.append(f"{qualified}: SURVEY.md row {why!r} does not name it")
    assert not stale, stale


def test_frames_are_cached_only_through_materialize():
    calls = []
    for p in sorted((ROOT / PKG).rglob("*.py")):
        if p == MATERIALIZE:
            continue
        for node in ast.walk(ast.parse(p.read_text(), str(p))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in CACHE_CALLS
            ):
                calls.append((str(p.relative_to(ROOT)), node.lineno, node.func.attr))
    calls = [f"{f}:{line} .{attr}()" for f, line, attr in sorted(calls)]
    assert not calls, (
        f"cache calls outside functions/materialize.py: {calls} — wrap the "
        "frame in `with cached(df) as df:` so every exit path releases it"
    )
