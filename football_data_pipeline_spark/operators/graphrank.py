"""Link-analysis quality scoring — PageRank over the trade graph
(new in r7, SURVEY §2 scale extensions; the reference has no graph
surface).

Why a training-data engine carries PageRank: web-crawl curation's
standard corpus-level quality prior is a host-graph centrality score
(Common-Crawl-style pipelines rank hosts by a PageRank variant and
use the score as a document quality feature next to the text-level
gates in quality.py/rules.py). The engine's testdata has no host
graph, so the driver query builds the analogous bipartite TRADE
graph — supplier <-> customer edges from distinct (l_suppkey,
o_custkey) trade pairs over lineitem x orders — and ranks all 1600
nodes; customers that never ordered are isolated nodes, which
exercises the dangling-mass redistribution path for real.

The iteration (damping d = 0.85, ITERATIONS unrolled rounds from the
uniform start):

    pr'(v) = round( (1-d)/N
                    + d * ( sum_{u->v} round(pr(u)/outdeg(u), 12)
                            + D/N ),  12)
    D      = decimal-sum of pr over dangling (no-out-edge) nodes

Float/engine parity (the kmeans discipline, ivfpq.py): every
per-edge contribution is rounded to the 1e-12 grid BEFORE the sum,
the sums run as DECIMAL(38,12) (exact, order-independent), and each
iteration's vector is rounded back to the grid — so iteration t's
scores are an engine-exact artifact and the unrolled DuckDB mirror
stays bit-identical on any partitioning.

100 TB shape: one iteration = one edge->score equi join + one
dst-keyed hash aggregate (+ a scalar dangling aggregate) — the
canonical Pregel-on-a-join form; cost is O(edges) per round with no
window and no driver loop state beyond the unrolled plan. Edges
partition by src for the join and shuffle once per round on dst;
at web scale the same plan runs with the host graph bucketed on
node id. Measured across the natural SF ladder (medians of 3,
local[8]): sf0.001 2.84 s -> sf0.01 3.66 s -> sf0.1 6.10 s — 100x
the edges for 2.1x the time (fixed plan cost dominates at these
sizes; the data-dependent part is the per-round edge join + dst
aggregate, linear in edges).

Production-depth measurement (r9, VERDICT r8 item 7; recorded in
SURVEY.md's "checkpointed PageRank proven flat" row — sf0.1 trade
graph replicated into 10 disjoint copies = 11.74 M edges / 160 k
nodes, checkpoint_every=5, medians of 3):

    rounds   wall_s   s/round
        5     18.5      3.70
       10     41.6      4.16
       20     64.1      3.20

Per-round cost stays FLAT with depth (3.2-4.2 s/round, no upward
trend through 20 rounds) — the checkpoint cadence really does bound
the plan, so the 10-50-round crawl-prior regime costs rounds x
O(edges), not rounds x O(growing lineage). Bit-equality of the
checkpointed path vs the unrolled form is separately pytest-locked
(tests/test_graphrank.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.stable import rnd
from ..registry import query

DAMPING = 0.85
#: the teleport numerator as its OWN literal: Python's (1.0 - 0.85)
#: evaluates to 0.15000000000000002, a DIFFERENT double from the
#: 0.15 a SQL literal parses to — both sides must start from the
#: same bits or grid-boundary rounding can flip
TELEPORT_NUM = 0.15
ITERATIONS = 3
#: rounding grids: per-edge contributions / iteration vectors at
#: 1e-12, the published score at 1e-10
GRID = 12
OUT = 10

#: customer node ids are offset past every supplier id
CUST_BASE = 1_000_000


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = ITERATIONS,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """(node, pr) after ``iterations`` damped rounds from the uniform
    start. ``nodes``: one column ``node``; ``edges``: ``src``/``dst``
    (directed, deduplicated by the caller). Engine-exact per the
    module docstring's rounding discipline.

    ``checkpoint_every``: the PRODUCTION-round-count path (VERDICT r7
    missing #2). The default unrolled form embeds every prior round in
    the plan — fine at the oracle's 3 rounds, but a real crawl prior
    runs 10-50 and the lineage would bloat the way q_learned_mapping's
    once did. With ``checkpoint_every=k`` the score table is
    localCheckpoint-ed every k rounds (the connected_components
    discipline, dedup.py:658), so plan size is bounded by k rounds
    regardless of iteration count; edges/outdeg are checkpointed once
    up front so the eager per-round jobs do not rebuild the edge
    derivation each time. Scores are BIT-IDENTICAL to the unrolled
    form: every round's vector is already grid-rounded, and a
    checkpoint materializes exactly those doubles
    (tests/test_graphrank.py::test_checkpointed_matches_unrolled)."""
    if checkpoint_every is not None and checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    n_total = nodes.count()  # scalar, drives the teleport constant
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    pr = nodes.select(
        "node", rnd(F.lit(1.0 / n_total), GRID).alias("pr")
    )
    if checkpoint_every is not None:
        edges = edges.localCheckpoint()
        outdeg = outdeg.localCheckpoint()
        pr = pr.localCheckpoint()
    teleport = TELEPORT_NUM / n_total
    for it in range(iterations):
        scored = edges.join(
            pr.select(F.col("node").alias("src"), "pr"), "src"
        ).join(F.broadcast(outdeg), "src")
        contrib = scored.groupBy(F.col("dst").alias("node")).agg(
            F.sum(
                rnd(F.col("pr") / F.col("outdeg"), GRID).cast(
                    "decimal(38,12)"
                )
            )
            .cast("double")
            .alias("inflow")
        )
        dangling = (
            pr.join(
                outdeg.select(F.col("src").alias("node")), "node", "left_anti"
            )
            .agg(
                F.coalesce(
                    F.sum(F.col("pr").cast("decimal(38,12)")).cast("double"),
                    F.lit(0.0),
                ).alias("d_mass")
            )
        )
        pr = (
            pr.select("node")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                rnd(
                    F.lit(teleport)
                    + F.lit(DAMPING)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("d_mass") / n_total
                    ),
                    GRID,
                ).alias("pr"),
            )
        )
        if checkpoint_every is not None and (it + 1) % checkpoint_every == 0:
            pr = pr.localCheckpoint()
    return pr.select("node", rnd(F.col("pr"), OUT).alias("pr"))


def _pagerank_oracle() -> str:
    grid, out = 10**GRID, 10**OUT

    def r(expr: str, scale: int) -> str:
        # CAST the input: DuckDB numeric literals parse as DECIMAL
        # and floor(DECIMAL) stays decimal-typed — the grid must be
        # computed in DOUBLE on both engines
        return f"floor(CAST({expr} AS DOUBLE) * {scale} + 0.5) / {scale}"

    parts = [
        f"""nodes AS (
      SELECT s_suppkey AS node FROM supplier
      UNION ALL
      SELECT {CUST_BASE} + c_custkey AS node FROM customer
    ),
    edges AS (
      SELECT DISTINCT l.l_suppkey AS src,
             {CUST_BASE} + o.o_custkey AS dst
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      UNION
      SELECT DISTINCT {CUST_BASE} + o.o_custkey AS src,
             l.l_suppkey AS dst
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    n AS (SELECT count(*) AS n FROM nodes),
    outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    it0 AS (
      SELECT node, {r('CAST(1.0 AS DOUBLE) / n.n', grid)} AS pr
      FROM nodes CROSS JOIN n
    )"""
    ]
    prev = "it0"
    for t in range(1, ITERATIONS + 1):
        parts.append(
            f"""c{t} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST({r('p.pr / o.outdeg', grid)}
                           AS DECIMAL(38,12))) AS DOUBLE) AS inflow
      FROM edges e
      JOIN {prev} p ON p.node = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ),
    d{t} AS (
      SELECT coalesce(CAST(sum(CAST(p.pr AS DECIMAL(38,12))) AS DOUBLE),
                      0.0) AS d_mass
      FROM {prev} p LEFT JOIN outdeg o ON o.src = p.node
      WHERE o.src IS NULL
    ),
    it{t} AS (
      SELECT p.node,
             {r(
                 f"CAST(0.15 AS DOUBLE) / n.n + CAST(0.85 AS DOUBLE)"
                 f" * (coalesce(c{t}.inflow, 0.0) + d{t}.d_mass / n.n)",
                 grid,
             )} AS pr
      FROM {prev} p
      LEFT JOIN c{t} ON c{t}.node = p.node
      CROSS JOIN d{t} CROSS JOIN n
    )"""
        )
        prev = f"it{t}"
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT node, {r('pr', out)} AS pr FROM {prev}
    """


@query("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite trade graph: every supplier and
    customer node scored after ITERATIONS damped rounds (module
    docstring has the crawl-curation rationale, the dangling-mass
    handling, and the engine-exact rounding discipline)."""
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    trade = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("s"),
            (F.lit(CUST_BASE) + F.col("o_custkey")).alias("c"),
        )
        .distinct()
    )
    edges = trade.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionByName(
        trade.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    nodes = supplier.select(F.col("s_suppkey").alias("node")).unionByName(
        customer.select((F.lit(CUST_BASE) + F.col("c_custkey")).alias("node"))
    )
    # checkpoint_every=1 (r13 optimization): the unrolled 3-round plan
    # re-embeds the edge derivation and every prior round per
    # reference — a 7.3k-line plan string, 238 distinct exchanges, 62
    # sort-merge joins at sf0.1. The checkpointed path (guide §2.4 —
    # remove repeated subtree execution; §5 — bound the plan the
    # driver must optimize) materializes edges/outdeg once and each
    # round's node-sized score vector, so per-round work is exactly
    # one edge join + one dst aggregate. Scores are BIT-IDENTICAL to
    # the unrolled form (every round is grid-rounded before the
    # checkpoint; tests/test_graphrank.py::
    # test_checkpointed_matches_unrolled pins it).
    return pagerank(nodes, edges, checkpoint_every=1)
