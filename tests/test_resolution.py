"""Entity-resolution cascade tests — replicates the reference's
inline strategy tests (/root/reference/enhanced_mapping.py:912-957)
and the demo's negative case
(/root/reference/demo_enhanced_pipeline.py:42).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from football_data_pipeline_spark.functions.normalize import normalize_name
from football_data_pipeline_spark.operators.resolution import (
    attempt_log,
    learn_mappings,
    resolve_names,
)

CANDIDATES = [
    "Manchester Utd",
    "Manchester City",
    "Liverpool",
    "Barcelona",
    "Real Madrid",
    "Atletico Madrid",
    "Bayern Munich",
    "Dortmund",
    "RB Leipzig",
    "Schalke",
    "PSG",
    "Marseille",
    "Lyon",
]

API_NAMES = [
    "Manchester United",
    "FC Barcelona",
    "Bayern Munich",
    "Borussia Dortmund",
    "Paris Saint Germain",
    "Unknown Team FC",
]


def _resolve(spark, use_difflib, manual_rows=None):
    api = spark.createDataFrame([(n,) for n in API_NAMES], "api_name string")
    cand = spark.createDataFrame([(n,) for n in CANDIDATES], "odds_name string")
    manual = (
        spark.createDataFrame(manual_rows, "api_name string, target string")
        if manual_rows
        else None
    )
    out = resolve_names(api, cand, manual=manual, use_difflib=use_difflib)
    return {r.api_name: r for r in out.collect()}


def test_normalization_examples(spark):
    df = spark.createDataFrame(
        [
            ("Manchester United FC",),
            ("  Café  Atlético ",),
            ("Tottenham Hotspur & Co",),
            ("FC BARCELONA",),
        ],
        "name string",
    ).select(normalize_name("name").alias("n"))
    assert [r.n for r in df.collect()] == [
        "manchester utd",
        "cafe atletico",
        "tottenham and co",
        "barcelona",
    ]


def test_cascade_reference_cases_levenshtein(spark):
    """Engine-default fuzzy kernel (Levenshtein ratio, F11b)."""
    res = _resolve(spark, use_difflib=False)

    assert res["Bayern Munich"].strategy == "exact_match"
    assert res["Bayern Munich"].confidence == 1.0
    assert res["Bayern Munich"].matched_name == "Bayern Munich"

    assert res["Manchester United"].strategy == "normalized_matching"
    assert res["Manchester United"].matched_name == "Manchester Utd"
    assert res["Manchester United"].confidence == 0.85

    assert res["FC Barcelona"].strategy == "normalized_matching"
    assert res["FC Barcelona"].matched_name == "Barcelona"

    # documented divergence (F11b): lev-ratio(borussia dortmund,
    # dortmund) = 1 - 9/17 ≈ 0.47 → conf 0.28 < 0.3 → no match
    assert res["Borussia Dortmund"].strategy == "no_match"

    assert res["Paris Saint Germain"].strategy == "no_match"
    assert res["Unknown Team FC"].strategy == "no_match"
    assert res["Unknown Team FC"].matched_name is None


def test_cascade_reference_cases_difflib(spark):
    """Reference-parity fuzzy kernel (difflib Pandas UDF, F11a):
    Borussia Dortmund → Dortmund via the fuzzy fallback
    (ratio 0.64 × 0.6 = 0.384 ≥ 0.3)."""
    res = _resolve(spark, use_difflib=True)
    r = res["Borussia Dortmund"]
    assert r.strategy == "fuzzy_matching"
    assert r.matched_name == "Dortmund"
    assert r.confidence == pytest.approx(0.384, abs=1e-4)
    # PSG still unmatched without the manual table (ratio 0.27 < 0.4)
    assert res["Paris Saint Germain"].strategy == "no_match"


def test_manual_mapping_strategy(spark):
    """F7: the manual dictionary resolves PSG at confidence 0.95."""
    res = _resolve(
        spark, use_difflib=False, manual_rows=[("Paris Saint Germain", "PSG")]
    )
    r = res["Paris Saint Germain"]
    assert (r.strategy, r.matched_name, r.confidence) == ("manual_mapping", "PSG", 0.95)


def test_learn_and_attempt_log(spark):
    api = spark.createDataFrame([(n,) for n in API_NAMES], "api_name string")
    cand = spark.createDataFrame([(n,) for n in CANDIDATES], "odds_name string")
    resolved = resolve_names(api, cand)

    existing = spark.createDataFrame(
        [("Manchester United", "OLD TARGET", 0.9, "learned_mapping", True)],
        "api_name string, learned_name string, confidence double, strategy string, verified boolean",
    )
    learned = {r.api_name: r for r in learn_mappings(resolved, existing).collect()}
    # F13: conf ≥ 0.8 matches replace the old row (INSERT OR REPLACE)
    assert learned["Manchester United"].learned_name == "Manchester Utd"
    assert learned["Manchester United"].verified is False
    # unmatched / low-confidence names are not learned
    assert "Unknown Team FC" not in learned

    log = {r.api_name: r for r in attempt_log(resolved).collect()}
    assert len(log) == len(API_NAMES)  # F14: every attempt logged
    assert log["Unknown Team FC"].success is False
    alts = json.loads(log["Manchester United"].alternatives)
    assert isinstance(alts, list) and len(alts) <= 3


def test_blocking_key_restricts_candidates(spark):
    """J9 blocking: candidates outside the block are invisible."""
    api = spark.createDataFrame(
        [("Bayern Munich", 1)], "api_name string, league string"
    ).withColumn("league", F.lit("DE"))
    cand = spark.createDataFrame(
        [("Bayern Munich", "EN")], "odds_name string, league string"
    )
    out = resolve_names(api, cand, block_key="league").collect()
    # no pair in block → still one row per input name (the reference
    # always returns a MappingResult), as an explicit no_match
    assert len(out) == 1
    assert out[0].api_name == "Bayern Munich"
    assert out[0].matched_name is None
    assert out[0].strategy == "no_match"
    assert out[0].alternatives == []


def test_rank_candidates_guard_enforces_dim_contract(spark):
    """The deliberate global window in rank_candidates must fail
    loudly on a fact-sized input instead of silently
    single-partition-sorting it (plan-embedded raise_error guard)."""
    from pyspark.sql import functions as F

    from football_data_pipeline_spark.operators.resolution import rank_candidates

    names = spark.range(10).select(
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("odds_name")
    )
    ranks = {
        r["odds_name"]: r["__cand_rank"]
        for r in rank_candidates(names, "odds_name").collect()
    }
    assert sorted(ranks.values()) == list(range(1, 11))
    assert ranks["n0"] == 1  # ascending-name dense rank

    with pytest.raises(Exception, match="rank_candidates.*over the 5 cap"):
        rank_candidates(names, "odds_name", max_candidates=5).collect()


def test_learned_projection_matches_full_second_cascade(spark):
    """r14 optimization: q_learned_mapping computes batch 2 as a pure
    projection of batch 1 (promote matched rows with confidence ≥ 0.8
    not already won by exact/manual to (0.9, learned_mapping)). The
    projection must return EXACTLY what a genuine second resolve_names
    run with the learned dictionary active returns — the equivalence
    proof on er_queries.q_learned_mapping, pinned row-for-row here."""
    from football_data_pipeline_spark.functions.stable import rnd

    api = spark.createDataFrame([(n,) for n in API_NAMES], "api_name string")
    cand = spark.createDataFrame([(n,) for n in CANDIDATES], "odds_name string")
    manual = spark.createDataFrame(
        [("Paris Saint Germain", "PSG")], "api_name string, target string"
    )
    batch1 = resolve_names(
        api, cand, manual=manual, with_alternatives=False
    ).localCheckpoint()
    empty = spark.createDataFrame(
        [],
        "api_name string, learned_name string, confidence double, "
        "strategy string, verified boolean",
    )
    learned_dim = learn_mappings(batch1, empty, min_confidence=0.8).select(
        "api_name", "learned_name"
    )
    full = resolve_names(
        api, cand, manual=manual, learned=learned_dim, with_alternatives=False
    )
    promote = (
        F.col("matched_name").isNotNull()
        & (F.col("confidence") >= 0.8)
        & ~F.col("strategy").isin("exact_match", "manual_mapping")
    )
    proj = batch1.select(
        "api_name",
        "matched_name",
        F.when(promote, rnd(F.lit(0.9), 4))
        .otherwise(F.col("confidence"))
        .alias("confidence"),
        F.when(promote, F.lit("learned_mapping"))
        .otherwise(F.col("strategy"))
        .alias("strategy"),
    )
    rows_full = sorted(map(tuple, full.collect()))
    rows_proj = sorted(map(tuple, proj.collect()))
    assert rows_proj == rows_full
    # every input name appears exactly once (incl. no_match rows)
    assert len(rows_proj) == len(API_NAMES)
    # the fixture exercises the promotion: at least one learned row
    # must exist and keep its batch-1 matched name
    promoted = [r for r in rows_proj if r[3] == "learned_mapping"]
    assert promoted, "fixture produced no learn-eligible batch-1 row"
    b1 = {r[0]: r for r in map(tuple, batch1.collect())}
    for name, matched, conf, strat in promoted:
        assert matched == b1[name][1]
        assert conf == pytest.approx(0.9)


def test_substring_tier_provably_dead(spark):
    """r13 opt round: the fast path dropped its substring tier because
    strategy 5 can NEVER clear its 0.75 gate on a pair strategy 4
    would not already have resolved — substring_confidence =
    (min(len)/max(len))·0.75 is ≤ 0.75 with equality iff the strings
    are equal-length AND contained, i.e. equal. Pin the arithmetic on
    the actual Column kernel: containment with unequal lengths stays
    strictly below the gate; only equality reaches it."""
    from football_data_pipeline_spark.functions.similarity import (
        substring_confidence,
    )
    from football_data_pipeline_spark.operators.resolution import (
        SUBSTRING_THRESHOLD,
    )

    rows = [
        ("barcelona b", "barcelona"),  # containment, unequal length
        ("real", "real madrid cf"),
        ("x", "xx"),
        ("abc", "zabcz"),
        ("same name", "same name"),  # equality — the only passer
        ("", "x"),
        ("disjoint", "other"),
    ]
    df = spark.createDataFrame(rows, "a string, b string").select(
        "a",
        "b",
        substring_confidence(F.col("a"), F.col("b")).alias("c5"),
    )
    for r in df.collect():
        if r.a == r.b and len(r.a) > 0:
            assert r.c5 == SUBSTRING_THRESHOLD
        else:
            assert r.c5 < SUBSTRING_THRESHOLD, (r.a, r.b, r.c5)


def test_fast_path_matches_window_path_with_containment_pairs(spark):
    """Differential pin for the r13 fast-path rewrite (substring tier
    removed, hard tier aggregated over strategies 6-8 only): the
    agg fast path must return row-for-row what the independent window
    path computes, on a corpus that exercises containment pairs
    (sub-0.75 strategy-5 confidences), word-set permutations
    (strategy 6), fuzzy matches (7/8), equality tiers, and no_match."""
    api_names = [
        "Real Madrid",          # word-permutation → word_based (0.7)
        "FC Barcelona B",       # containment, falls through to fuzzy
        "Bayern Munich",        # exact
        "Manchester United",    # normalized (United→Utd)
        "Paris Saint Germain",  # manual
        "Zq Wv Kx",             # no_match
    ]
    cands = [
        "Madrid Real",
        "Barcelona",
        "Bayern Munich",
        "Manchester Utd",
        "PSG",
        "Liverpool",
    ]
    api = spark.createDataFrame([(n,) for n in api_names], "api_name string")
    cand = spark.createDataFrame([(n,) for n in cands], "odds_name string")
    manual = spark.createDataFrame(
        [("Paris Saint Germain", "PSG")], "api_name string, target string"
    )
    fast = resolve_names(
        api, cand, manual=manual, with_alternatives=False
    )
    window = resolve_names(
        api, cand, manual=manual, with_alternatives=True
    ).select("api_name", "matched_name", "confidence", "strategy")
    rows_fast = sorted(map(tuple, fast.collect()))
    rows_window = sorted(map(tuple, window.collect()))
    assert rows_fast == rows_window
    by_name = {r[0]: r for r in rows_fast}
    assert by_name["Real Madrid"][3] == "word_based_matching"
    assert by_name["Zq Wv Kx"][3] == "no_match"
    assert by_name["Paris Saint Germain"][3] == "manual_mapping"


def test_learned_mapping_plan_bounded(spark):
    """Plan-SIZE regression for q_learned_mapping (VERDICT r7 #1): the
    two-batch resolve -> learn -> resolve composition must NOT embed
    batch 1's full cascade lineage in batch 2's plan. Before the
    localCheckpoint cut the plan string carried ~4,553 Exchange
    re-prints and a 1g driver OOMed just holding it; after the cut the
    dim-sized learned table enters batch 2 as a leaf. Ceiling is ~10x
    the post-fix count (~45 exchanges) so real work can grow but a
    lineage re-embedding regression (two orders of magnitude) trips."""
    import os
    import sys

    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    from .conftest import SF_DIR

    # resolve_names checkpoints its result eagerly; plan the cascade
    # the checkpoint would run, as PLANS.md does
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from gen_plans_md import planned_checkpoints

    with planned_checkpoints():
        df = QUERIES["q_learned_mapping"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    assert n_exchanges < 400, (
        f"q_learned_mapping plan has {n_exchanges} Exchange prints - "
        "batch 1 lineage re-embedded? (localCheckpoint cut missing)"
    )
