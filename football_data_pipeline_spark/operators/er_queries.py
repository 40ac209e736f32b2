"""Driver-checkable entity-resolution queries (F6-F12, J9).

The name universes are derived deterministically from ``customer``
(decorated variants per key bucket) so every cascade strategy fires
somewhere and both engines compute the same inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.normalize import normalize_name, oracle_normalize
from ..functions.similarity import (
    oracle_jaccard_words,
    oracle_levenshtein_ratio,
    oracle_substring_confidence,
)
from ..registry import query
from .resolution import resolve_names


def _decorated_name() -> F.Column:
    """Name decorations keyed by c_custkey % 6, exercising each rule
    family (token strip, United→Utd, case fold, &→and, accents,
    whitespace)."""
    k = F.col("c_custkey") % 6
    n = F.col("c_name")
    return (
        F.when(k == 0, F.concat(F.lit("FC "), n))
        .when(k == 1, F.concat(n, F.lit(" United")))
        .when(k == 2, F.upper(n))
        .when(k == 3, F.regexp_replace(n, "#", " & "))
        .when(k == 4, F.concat(n, F.lit(" Café")))
        .otherwise(F.concat(F.lit("  "), n, F.lit("  ")))
    )


_DECORATED_SQL = """CASE c_custkey % 6
      WHEN 0 THEN 'FC ' || c_name
      WHEN 1 THEN c_name || ' United'
      WHEN 2 THEN upper(c_name)
      WHEN 3 THEN regexp_replace(c_name, '#', ' & ', 'g')
      WHEN 4 THEN c_name || ' Café'
      ELSE '  ' || c_name || '  ' END"""


@query(
    "q_normalize_names",
    oracle=f"""
    WITH decorated AS (
      SELECT c_custkey, {_DECORATED_SQL} AS raw_name FROM customer
    )
    SELECT c_custkey, raw_name, {oracle_normalize('raw_name')} AS normalized
    FROM decorated
    """,
)
def q_normalize_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: the full normalization rule chain as one projection.

    Rule table from /root/reference/enhanced_mapping.py:216-261,
    applied per :309-323. Pure regexp_replace/translate — whole-stage
    codegen, trivially scan-parallel at any scale.
    """
    customer = load(spark, sf_dir, "customer")
    decorated = customer.select("c_custkey", _decorated_name().alias("raw_name"))
    return decorated.select(
        "c_custkey", "raw_name", normalize_name("raw_name").alias("normalized")
    )


_CAND_SQL = """CASE c_custkey % 4
      WHEN 0 THEN c_name
      WHEN 1 THEN c_name || ' FC'
      WHEN 2 THEN upper(c_name)
      ELSE replace(c_name, 'Customer#', 'Cust#') END"""

_STRAT_CASE = (
    "CASE s_star WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 4 THEN c4 "
    "WHEN 5 THEN c5 WHEN 6 THEN c6 WHEN 7 THEN c7 WHEN 8 THEN c7 END"
)


def _fuzzy_oracle() -> str:
    an, cn = "an", "cn"
    lev = oracle_levenshtein_ratio(an, cn)
    return f"""
    WITH api AS (
      SELECT c_name AS api_name, c_nationkey AS nk FROM customer
    ),
    cand AS (
      SELECT {_CAND_SQL} AS odds_name, c_nationkey AS nk FROM customer
    ),
    manual AS (
      SELECT c_name AS api_name,
             replace(c_name, 'Customer#', 'Cust#') AS manual_target
      FROM customer WHERE c_custkey % 12 = 3
    ),
    pairs AS (
      SELECT a.api_name, c.odds_name, m.manual_target,
             {oracle_normalize('a.api_name')} AS an,
             {oracle_normalize('c.odds_name')} AS cn
      FROM api a
      JOIN cand c ON a.nk = c.nk
      LEFT JOIN manual m ON a.api_name = m.api_name
    ),
    scored AS (
      SELECT api_name, odds_name,
             CASE WHEN api_name = odds_name THEN 1.0 ELSE 0.0 END AS c1,
             CASE WHEN odds_name = manual_target THEN 0.95 ELSE 0.0 END AS c2,
             CASE WHEN an = cn THEN 0.85 ELSE 0.0 END AS c4,
             {oracle_substring_confidence(an, cn)} AS c5,
             {oracle_jaccard_words(an, cn)} AS c6,
             CASE WHEN {lev} > 0.4 THEN {lev} * 0.6 ELSE 0.0 END AS c7
      FROM pairs
    ),
    passed AS (
      SELECT *,
             least(CASE WHEN c1 >= 1.0 THEN 1 END,
                   CASE WHEN c2 >= 0.95 THEN 2 END,
                   CASE WHEN c4 >= 0.85 THEN 4 END,
                   CASE WHEN c5 >= 0.75 THEN 5 END,
                   CASE WHEN c6 >= 0.7 THEN 6 END,
                   CASE WHEN c7 >= 0.6 THEN 7 END,
                   CASE WHEN c7 >= 0.3 THEN 8 END) AS pass_idx
      FROM scored
    ),
    starred AS (
      SELECT *, min(pass_idx) OVER (PARTITION BY api_name) AS s_star
      FROM passed
    ),
    chosen AS (
      SELECT *, {_STRAT_CASE} AS conf_star,
             row_number() OVER (PARTITION BY api_name
                                ORDER BY {_STRAT_CASE} DESC, odds_name ASC) AS rn
      FROM starred
    )
    SELECT api_name,
           CASE WHEN s_star IS NOT NULL THEN odds_name END AS matched_name,
           CASE WHEN s_star IS NOT NULL THEN floor(conf_star * 10000 + 0.5) / 10000 END AS confidence,
           CASE s_star WHEN 1 THEN 'exact_match' WHEN 2 THEN 'manual_mapping'
                WHEN 4 THEN 'normalized_matching' WHEN 5 THEN 'substring_matching'
                WHEN 6 THEN 'word_based_matching' WHEN 7 THEN 'fuzzy_matching'
                WHEN 8 THEN 'fuzzy_matching' ELSE 'no_match' END AS strategy
    FROM chosen WHERE rn = 1
    """


@query("q_fuzzy_join", oracle=_fuzzy_oracle())
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/J9: the full strategy cascade as a blocked scoring join.

    api side = raw customer names; candidate side = decorated
    variants (identity / ' FC' suffix / uppercase / 'Cust#' prefix
    rewrite); manual mapping table covers a quarter of the rewrite
    bucket. Blocking key = nationkey, mirroring the reference's
    league-scoped candidate pruning
    (/root/reference/enhanced_mapping.py:846-851) — the cross product
    stays bounded per block at any scale, and the candidate universe
    is broadcast.
    """
    customer = load(spark, sf_dir, "customer")
    api = customer.select(F.col("c_name").alias("api_name"), F.col("c_nationkey").alias("nk"))
    k = F.col("c_custkey") % 4
    cand = customer.select(
        F.when(k == 0, F.col("c_name"))
        .when(k == 1, F.concat(F.col("c_name"), F.lit(" FC")))
        .when(k == 2, F.upper(F.col("c_name")))
        .otherwise(F.regexp_replace(F.col("c_name"), "Customer#", "Cust#"))
        .alias("odds_name"),
        F.col("c_nationkey").alias("nk"),
    )
    manual = customer.filter(F.col("c_custkey") % 12 == 3).select(
        F.col("c_name").alias("api_name"),
        F.regexp_replace(F.col("c_name"), "Customer#", "Cust#").alias("manual_target"),
    )
    resolved = resolve_names(
        api, cand, block_key="nk", manual=manual, with_alternatives=False
    )
    return resolved.select("api_name", "matched_name", "confidence", "strategy")


def _cascade_ctes(p: str, learned_cte: str | None = None) -> str:
    """CTE chain for one cascade batch with prefix ``p`` — mirrors
    resolve_names exactly; with ``learned_cte`` the dictionary
    strategy 3 (conf 0.9) participates."""
    an, cn = "an", "cn"
    lev = oracle_levenshtein_ratio(an, cn)
    learned_join = (
        f"LEFT JOIN {learned_cte} l ON a.api_name = l.api_name" if learned_cte else ""
    )
    learned_sel = ", l.learned_target" if learned_cte else ""
    c3 = (
        "CASE WHEN odds_name = learned_target THEN 0.9 ELSE 0.0 END"
        if learned_cte
        else "0.0"
    )
    c3_pass = "CASE WHEN c3 >= 0.9 THEN 3 END," if learned_cte else ""
    strat_case = (
        "CASE s_star WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 WHEN 4 THEN c4 "
        "WHEN 5 THEN c5 WHEN 6 THEN c6 WHEN 7 THEN c7 WHEN 8 THEN c7 END"
    )
    return f"""
    {p}pairs AS (
      SELECT a.api_name, c.odds_name, m.manual_target{learned_sel},
             {oracle_normalize('a.api_name')} AS an,
             {oracle_normalize('c.odds_name')} AS cn
      FROM api a
      JOIN cand c ON a.nk = c.nk
      LEFT JOIN manual m ON a.api_name = m.api_name
      {learned_join}
    ),
    {p}scored AS (
      SELECT api_name, odds_name,
             CASE WHEN api_name = odds_name THEN 1.0 ELSE 0.0 END AS c1,
             CASE WHEN odds_name = manual_target THEN 0.95 ELSE 0.0 END AS c2,
             {c3} AS c3,
             CASE WHEN an = cn THEN 0.85 ELSE 0.0 END AS c4,
             {oracle_substring_confidence(an, cn)} AS c5,
             {oracle_jaccard_words(an, cn)} AS c6,
             CASE WHEN {lev} > 0.4 THEN {lev} * 0.6 ELSE 0.0 END AS c7
      FROM {p}pairs
    ),
    {p}passed AS (
      SELECT *,
             least(CASE WHEN c1 >= 1.0 THEN 1 END,
                   CASE WHEN c2 >= 0.95 THEN 2 END,
                   {c3_pass}
                   CASE WHEN c4 >= 0.85 THEN 4 END,
                   CASE WHEN c5 >= 0.75 THEN 5 END,
                   CASE WHEN c6 >= 0.7 THEN 6 END,
                   CASE WHEN c7 >= 0.6 THEN 7 END,
                   CASE WHEN c7 >= 0.3 THEN 8 END) AS pass_idx
      FROM {p}scored
    ),
    {p}starred AS (
      SELECT *, min(pass_idx) OVER (PARTITION BY api_name) AS s_star
      FROM {p}passed
    ),
    {p}chosen AS (
      SELECT *, {strat_case} AS conf_star,
             row_number() OVER (PARTITION BY api_name
                                ORDER BY {strat_case} DESC, odds_name ASC) AS rn
      FROM {p}starred
    ),
    {p}result AS (
      SELECT api_name,
             CASE WHEN s_star IS NOT NULL THEN odds_name END AS matched_name,
             CASE WHEN s_star IS NOT NULL
                  THEN floor(conf_star * 10000 + 0.5) / 10000 END AS confidence,
             CASE s_star WHEN 1 THEN 'exact_match' WHEN 2 THEN 'manual_mapping'
                  WHEN 3 THEN 'learned_mapping'
                  WHEN 4 THEN 'normalized_matching' WHEN 5 THEN 'substring_matching'
                  WHEN 6 THEN 'word_based_matching' WHEN 7 THEN 'fuzzy_matching'
                  WHEN 8 THEN 'fuzzy_matching' ELSE 'no_match' END AS strategy
      FROM {p}chosen WHERE rn = 1
    )"""


def _learned_oracle() -> str:
    return f"""
    WITH api AS (
      SELECT c_name AS api_name, c_nationkey AS nk FROM customer
    ),
    cand AS (
      SELECT {_CAND_SQL} AS odds_name, c_nationkey AS nk FROM customer
    ),
    manual AS (
      SELECT c_name AS api_name,
             replace(c_name, 'Customer#', 'Cust#') AS manual_target
      FROM customer WHERE c_custkey % 12 = 3
    ),
    {_cascade_ctes('b1_')},
    learned AS (
      SELECT api_name, matched_name AS learned_target
      FROM b1_result
      WHERE matched_name IS NOT NULL AND confidence >= 0.8
    ),
    {_cascade_ctes('b2_', learned_cte='learned')}
    SELECT api_name, matched_name, confidence, strategy FROM b2_result
    """


@query("q_learned_mapping", oracle=_learned_oracle())
def q_learned_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 end-to-end: batch-1 resolutions with confidence ≥ 0.8 are
    MERGEd into the learned dictionary, and batch 2 re-resolves with
    strategy 3 active — the reference's within-run learning
    (/root/reference/enhanced_mapping.py:632-649), converged after
    one extra batch (SURVEY.md §7 risk register).

    Observable effect: names batch 1 resolved via normalized_matching
    (0.85 ≥ 0.8) return from batch 2 as learned_mapping at 0.9;
    exact/manual winners are unchanged (higher priority than
    learned).

    r14 optimization (guide §1.2 step 1 — the cheapest pass is the
    one you don't run): batch 2 is computed as a PURE PROJECTION of
    batch 1, not a second cascade. Proof it equals the oracle's full
    batch-2 cascade, case by case over batch 1's verdict for a name:

    - The learned dim holds exactly the batch-1 rows with confidence
      ≥ 0.8: possible winning strategies are exact (1.0), manual
      (0.95), normalized (0.85) and word_based (Jaccard ∈ [0.8, 1]);
      substring caps at 0.75 (provably dead — resolution.py) and
      fuzzy at 0.6, so nothing else reaches 0.8. Each learned target
      is the name's batch-1 matched candidate — a member of the
      name's own candidate block, so in batch 2 strategy 3 (cand ==
      learned target) fires for exactly these names, at 0.9.
    - Name NOT in the learned dim: its batch-2 pairs carry a NULL
      learned target, so conf_3 ≡ 0.0 and every other confidence
      column is computed from inputs IDENTICAL to batch 1's — its
      batch-2 row IS its batch-1 row (unchanged).
    - Name in the dim via strategy 1 or 2: those priorities outrank
      3, so s_star and the winning pair are unchanged → row
      identical to batch 1's.
    - Name in the dim via strategy 4 or 6: strategy 3 now passes and
      outranks both, so s_star = 3; every pair passing it has
      odds_name == the learned target (batch 1's matched_name), so
      the winner is that same name at confidence 0.9, strategy
      'learned_mapping' — i.e. the batch-1 row with (confidence,
      strategy) rewritten to (0.9, learned_mapping).

    So: rows with matched_name set, confidence ≥ 0.8 and strategy ∉
    {exact_match, manual_mapping} are promoted to (0.9,
    learned_mapping); every other row passes through. The r13 shape
    (checkpoint batch 1, re-run the equality tiers, fall back) ran
    four broadcast probes + two joins + a serial checkpoint barrier
    to compute exactly this projection.
    tests/test_resolution.py::test_learned_projection_matches_full_second_cascade
    pins the projection against a genuine second resolve_names run
    with the learned dim active; the driver oracle re-verifies the
    composition end-to-end.
    """
    from ..functions.stable import rnd

    customer = load(spark, sf_dir, "customer")
    api = customer.select(F.col("c_name").alias("api_name"), F.col("c_nationkey").alias("nk"))
    k = F.col("c_custkey") % 4
    cand = customer.select(
        F.when(k == 0, F.col("c_name"))
        .when(k == 1, F.concat(F.col("c_name"), F.lit(" FC")))
        .when(k == 2, F.upper(F.col("c_name")))
        .otherwise(F.regexp_replace(F.col("c_name"), "Customer#", "Cust#"))
        .alias("odds_name"),
        F.col("c_nationkey").alias("nk"),
    )
    manual = customer.filter(F.col("c_custkey") % 12 == 3).select(
        F.col("c_name").alias("api_name"),
        F.regexp_replace(F.col("c_name"), "Customer#", "Cust#").alias("manual_target"),
    )
    # batch 1 has exactly ONE consumer now (the projection below), so
    # the r7/r13 lineage-cut checkpoint is gone too: batch 1 is the
    # one cascade, whose result resolve_names checkpoints itself
    # (tests/test_resolution.py::test_learned_mapping_plan_bounded).
    batch1 = resolve_names(
        api, cand, block_key="nk", manual=manual, with_alternatives=False
    )
    # the batch-2 projection (equivalence proof in the docstring):
    # learn-eligible rows not already won by a higher-priority
    # dictionary strategy come back as learned_mapping at 0.9
    promote = (
        F.col("matched_name").isNotNull()
        & (F.col("confidence") >= 0.8)
        & ~F.col("strategy").isin("exact_match", "manual_mapping")
    )
    return batch1.select(
        "api_name",
        "matched_name",
        F.when(promote, rnd(F.lit(0.9), 4))
        .otherwise(F.col("confidence"))
        .alias("confidence"),
        F.when(promote, F.lit("learned_mapping"))
        .otherwise(F.col("strategy"))
        .alias("strategy"),
    )


#: reference-canonical mapping cases (enhanced_mapping.py:912-957 plus
#: edge cases) with difflib.SequenceMatcher.ratio precomputed by
#: CPython's difflib — the parity target F11a
_DIFFLIB_CASES = (
    ("Manchester United", "Manchester Utd", 0.9032),
    ("FC Barcelona", "Barcelona", 0.8571),
    ("Paris Saint Germain", "PSG", 0.2727),
    ("Borussia Dortmund", "Dortmund", 0.64),
    ("Bayern Munich", "Bayern Munchen", 0.8889),
    ("Real Madrid", "Real Madrid CF", 0.88),
    ("Inter", "Internazionale", 0.5263),
    ("Spurs", "Tottenham Hotspur", 0.2727),
    ("AC Milan", "Milan", 0.7692),
    ("Unknown Team FC", "Arsenal", 0.1818),
    ("", "x", 0.0),
    ("same", "same", 1.0),
)


@query(
    "q_difflib_ratio",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(
        f"('{a}', '{b}', CAST({r} AS DOUBLE))" for a, b, r in _DIFFLIB_CASES
    )
    + ") t(api_name, odds_name, ratio)",
)
def q_difflib_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11a parity gate: the difflib Pandas UDF (the engine's ONLY
    UDF, SURVEY.md §2.11) computed in-engine over the reference's
    canonical mapping cases, checked against ratios precomputed with
    CPython difflib. DuckDB has no Ratcliff-Obershelp, so the oracle
    is the precomputed expected table — what the hash proves is that
    the Arrow-vectorized UDF path (serialization, batching, NULL/empty
    handling) reproduces the reference kernel bit-for-bit
    (/root/reference/enhanced_mapping.py:569-610). sf-independent by
    construction; the sf-scaled fuzzy path is covered by q_fuzzy_join.
    """
    from ..functions.similarity import difflib_ratio
    from ..functions.stable import rnd

    pairs = spark.createDataFrame(
        [(a, b) for a, b, _ in _DIFFLIB_CASES], "api_name string, odds_name string"
    )
    return pairs.select(
        "api_name",
        "odds_name",
        rnd(difflib_ratio(F.col("api_name"), F.col("odds_name")), 4).alias("ratio"),
    )


def _alternatives_oracle() -> str:
    return f"""
    WITH api AS (
      SELECT c_name AS api_name, c_nationkey AS nk FROM customer
    ),
    cand AS (
      SELECT {_CAND_SQL} AS odds_name, c_nationkey AS nk FROM customer
    ),
    manual AS (
      SELECT c_name AS api_name,
             replace(c_name, 'Customer#', 'Cust#') AS manual_target
      FROM customer WHERE c_custkey % 12 = 3
    ),
    {_cascade_ctes('a_')},
    alts AS (
      SELECT api_name,
             CAST(to_json(list(odds_name ORDER BY rn)) AS VARCHAR) AS alternatives
      FROM a_chosen WHERE rn BETWEEN 2 AND 4
      GROUP BY api_name
    )
    SELECT r.api_name, r.matched_name, r.confidence, r.strategy,
           coalesce(a.alternatives, '[]') AS alternatives
    FROM a_result r LEFT JOIN alts a ON r.api_name = a.api_name
    """


@query("q_resolve_alternatives", oracle=_alternatives_oracle())
def q_resolve_alternatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/F14: the full window-path resolution — top-1 match PLUS the
    3 ranked runner-up alternatives per name, JSON-serialized (N6)
    exactly as the attempt log stores them
    (/root/reference/enhanced_mapping.py:584-590,628).

    Same inputs as q_fuzzy_join; what this adds to the gate is the
    with_alternatives=True code path: the per-name ranking window
    (conf_star DESC, candidate ASC), the sort-before-slice alternative
    packing, and the no-pair reinstatement contract.
    """
    customer = load(spark, sf_dir, "customer")
    api = customer.select(F.col("c_name").alias("api_name"), F.col("c_nationkey").alias("nk"))
    k = F.col("c_custkey") % 4
    cand = customer.select(
        F.when(k == 0, F.col("c_name"))
        .when(k == 1, F.concat(F.col("c_name"), F.lit(" FC")))
        .when(k == 2, F.upper(F.col("c_name")))
        .otherwise(F.regexp_replace(F.col("c_name"), "Customer#", "Cust#"))
        .alias("odds_name"),
        F.col("c_nationkey").alias("nk"),
    )
    manual = customer.filter(F.col("c_custkey") % 12 == 3).select(
        F.col("c_name").alias("api_name"),
        F.regexp_replace(F.col("c_name"), "Customer#", "Cust#").alias("manual_target"),
    )
    resolved = resolve_names(
        api, cand, block_key="nk", manual=manual, with_alternatives=True
    )
    return resolved.select(
        "api_name",
        "matched_name",
        "confidence",
        "strategy",
        F.to_json("alternatives").alias("alternatives"),
    )
