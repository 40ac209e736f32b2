#!/usr/bin/env python
"""Generate PLANS.md: an auditable physical-plan inventory for every
registered query.

For each query the table records the signals that decide 100 TB
behavior — shuffle count, join strategies, window count, parquet
scans with pushed filters — extracted from the STATIC physical plan
at sf0.01. With AQE on,
runtime re-planning can only improve these choices (demote a
sort-merge join to broadcast, coalesce partitions) — never worsen
them — so the static plan is the honest lower bound on quality.

Regenerate after plan-affecting changes:
    python tools/gen_plans_md.py
"""

from __future__ import annotations

import os
import re
import sys
from contextlib import contextmanager, nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame

import football_data_pipeline_spark.all_queries  # noqa: F401
from football_data_pipeline_spark.registry import QUERIES
from football_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")

HEADER = """# PLANS — physical-plan inventory (generated)

One row per registered query, in registration order: the plan
signals that decide behavior at 100 TB, extracted from the
executed-plan string at sf0.01 (static plan; AQE runtime re-planning
can only improve the join choices shown). Counts are
plan-STRING-level: a reused exchange subtree re-prints under every
consumer but executes once, so large numbers on deliberately-reusing
lineages overstate executed work. Regenerate with
`python tools/gen_plans_md.py` after plan-affecting changes.

Column key: **exch** = shuffle exchanges; **bhj/smj/bnlj** =
broadcast-hash / sort-merge / broadcast-nested-loop joins; **win** =
window operators; **scans** = parquet scans (those with pushed
filters marked `+pf`).

Eager-checkpoint queries (the generator's LAZY_SHAPE set:
q_video_frame_dedup, q_audio_near_dup, q_dedup_minhash,
q_ngram_jaccard, q_dedup_best_of_component, q_fuzzy_join,
q_learned_mapping): each caches a shared stage in a
`functions/materialize.cached` scope and checkpoints its result
before the scope exits, so its executed final plan is a
localCheckpoint scan. Their rows record the REAL stage shape instead,
built with eager checkpoints planned as their input frame — planned,
never executed, like every other static row here.

| query | exch | bhj | smj | bnlj | win | scans | notes |
|---|---|---|---|---|---|---|---|
"""


def final_sections(plan: str) -> str:
    """AdaptiveSparkPlan.toString prints `== Final Plan ==` followed
    by `== Initial Plan ==` for every adaptive block; counting the
    raw string double-counts each operator. Keep only final
    sections (and any non-adaptive text)."""
    out, keep = [], True
    for line in plan.split("\n"):
        if "== Initial Plan ==" in line:
            keep = False
        elif "== Final Plan ==" in line:
            keep = True
        elif keep:
            out.append(line)
    return "\n".join(out)


@contextmanager
def planned_checkpoints():
    """Plan eager ``localCheckpoint()`` calls instead of running them:
    inside the block an eager checkpoint returns its input frame, so a
    query that checkpoints its result before its
    ``functions/materialize.cached`` scope exits returns the lazy plan
    of the stage it would run. Lazy checkpoints (the
    connected-components rounds) run as before."""
    real = DataFrame.localCheckpoint

    def planned(self, eager=True, *args, **kwargs):
        return self if eager else real(self, eager, *args, **kwargs)

    DataFrame.localCheckpoint = planned
    try:
        yield
    finally:
        DataFrame.localCheckpoint = real


#: queries whose FINAL plan is a localCheckpoint scan because their
#: pair stage (or whole result) executes eagerly inside the query
#: function: the row records the REAL stage shape instead, built under
#: planned_checkpoints(). Counts for these rows are PLANNED (never
#: executed) — honest for shape, exactly like every other static-plan
#: row here.
LAZY_SHAPE = {
    "q_video_frame_dedup",
    "q_audio_near_dup",
    "q_dedup_minhash",
    "q_ngram_jaccard",
    "q_dedup_best_of_component",
    "q_fuzzy_join",
    "q_learned_mapping",
}

#: hand-audited explanations for signals the generic notes would
#: otherwise flag; keyed by query name
KNOWN_NOTES = {
    "q_fuzzy_join": (
        "global windows = the deliberate DIM-SIZED candidate ranking "
        "(resolution.rank_candidates, plan-embedded cardinality guard); "
        "one resolve_names cascade — counts are plan-string-level, so "
        "subtrees its tiers share re-print under each consumer"
    ),
    "q_learned_mapping": (
        "batch 2 is a projection of batch 1 (er_queries.py), so the plan "
        "is q_fuzzy_join's single cascade plus one projection; global "
        "windows = the same guarded dim-sized candidate ranking; "
        "ceiling 400 enforced by tests/test_resolution.py AND the "
        "PLANS.md staleness guard (tests/test_plans_md.py)"
    ),
    "q_video_frame_dedup": (
        "the pair stage is star collapse, the functions/lsh.band_pairs "
        "band join and Hamming verify; shape also pytest-locked in "
        "tests/test_multimodal.py via _phash_pair_plan, result "
        "oracle-checked"
    ),
    "q_audio_near_dup": (
        "the SHARED banded pair pass of q_video_frame_dedup; shape "
        "pytest-locked, result oracle-checked"
    ),
    "q_media_dedup": (
        "final plan shows the lazy history band probe (band_pairs' "
        "history form) + owner window; "
        "the WITHIN-BATCH pair stage is the same eager-checkpointed "
        "shared pass as q_audio_near_dup (shape pytest-locked via "
        "_phash_pair_plan), and connected-components rounds checkpoint "
        "per iteration by design"
    ),
    "q_media_curation": (
        "smj count is a checkpoint artifact: the probe joins read "
        "localCheckpoint scans whose statistics are unknown to the "
        "static planner, so it defaults to sort-merge; at runtime AQE "
        "demotes the small sides to broadcast — all joins are "
        "band/kind/asset_id equi joins (cartesian-free pytest-locked)"
    ),
}


def plan_row(name: str, plan: str) -> str:
    plan = final_sections(plan)
    # every shuffle form Spark prints: hashpartitioning(...),
    # rangepartitioning(...), SinglePartition (global agg/limit),
    # RoundRobinPartitioning(n) (repartition(n))
    exch = len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|"
            r"SinglePartition|RoundRobinPartitioning)",
            plan,
        )
    )
    bhj = plan.count("BroadcastHashJoin")
    smj = plan.count("SortMergeJoin")
    bnlj = plan.count("BroadcastNestedLoopJoin")
    win = len(re.findall(r"\bWindow \[", plan))
    scan_lines = [l for l in plan.split("\n") if "Scan parquet" in l]
    n_scans = len(scan_lines)
    n_pf = sum(
        1
        for l in scan_lines
        if "PushedFilters: [" in l and "PushedFilters: []" not in l
    )
    scans = f"{n_scans}" + (f" ({n_pf}+pf)" if n_pf else "")
    notes = []
    if "CartesianProduct" in plan:
        notes.append("CARTESIAN!")
    if smj:
        notes.append("smj: AQE may demote to bhj at runtime")
    # a GLOBAL window line has ONE `], [` separator AND an ordering
    # (ASC/DESC) in its final bracket group; a partition-only window
    # (partitionBy with no orderBy) also has one separator but its
    # final group is bare columns — scalable, not flagged. A global
    # window whose DIRECT CHILD is TakeOrderedAndProject (the
    # orderBy+limit→rank cut, functions/rank.top_k without ``by``) is
    # k-bounded by construction — noted separately, never a scale
    # flag (VERDICT r10 item 1).
    lines = plan.split("\n")
    global_windows, bounded_windows = [], []
    for i, l in enumerate(lines):
        if not (
            "Window [" in l
            and l.rstrip().endswith("]")
            and l.count("], [") == 1
            and re.search(r"(ASC|DESC)[^\[]*\]$", l.rstrip())
        ):
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if "TakeOrderedAndProject" in child:
            bounded_windows.append(l)
        else:
            global_windows.append(l)
    if global_windows:
        notes.append(f"{len(global_windows)} global window(s)")
    if bounded_windows:
        notes.append(
            f"{len(bounded_windows)} k-bounded rank window(s) over "
            "TakeOrdered survivors"
        )
    if name in LAZY_SHAPE:
        notes.append(
            "planned stage shape: the executed query checkpoints it "
            "eagerly, so its final plan is a checkpoint scan"
        )
    if name in KNOWN_NOTES:
        notes.append(KNOWN_NOTES[name])
    return (
        f"| `{name}` | {exch} | {bhj} | {smj} | {bnlj} | {win} "
        f"| {scans} | {'; '.join(notes)} |"
    )


def main() -> None:
    spark = get_spark(app_name="fdps-gen-plans")
    rows = []
    for name in QUERIES:
        with planned_checkpoints() if name in LAZY_SHAPE else nullcontext():
            df = QUERIES[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows.append(plan_row(name, plan))
        print(rows[-1], file=sys.stderr)
    with open(OUT, "w") as f:
        f.write(HEADER)
        f.write("\n".join(rows) + "\n")
    print(f"wrote {OUT}: {len(rows)} queries")


if __name__ == "__main__":
    main()
