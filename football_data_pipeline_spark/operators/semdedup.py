"""Semantic deduplication and product-quantization encoding over the
embedding column — the two vector-side passes a training-data
pipeline runs between embedding and indexing.

- ``q_semdedup`` — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
  restrict pairwise cosine comparison to within-cluster pairs, then
  greedily keep one representative per near-duplicate group. The
  coarse cluster bounds the quadratic blow-up: with k ∝ N clusters
  the expected cluster size is a CONSTANT, so total pair work is
  O(N·c̄) — linear in corpus size — instead of O(N²). ``label``
  stands in for the k-means cell id, the same convention as
  ``q_knn_ivf`` (embedsearch.py); the real index build is
  ``q_ivf_centroids``/``q_ivf_reassign``.
- ``q_pq_encode`` — product quantization (Jégou et al. 2011): split
  each vector into M contiguous subvectors and replace each with the
  id of its nearest codebook entry, compressing a 64-dim float
  vector to M small codes. With the IVF cells above this is the
  IVF-PQ layout — the standard billion-scale ANN index.

Reference parity: the reference has no vector operators at all —
these extend the engine for the LLM-data-pipeline brief (SURVEY.md
§2 extension block), alongside embedsearch.py.

Float parity with the DuckDB oracle: dot products / squared
distances are strict left-to-right folds over double-cast elements
on BOTH engines (embedsearch.py convention), so the doubles being
thresholded or argmin-packed are bit-identical.

Scale probe (2026-08-14, round 4, local[32], reproducible via
``tools/scale_probe.py --queries q_semdedup,q_pq_encode``; 10×
embeddings = 50k vectors with labels re-spread so cluster count
grows 10× and expected cluster size stays ~50 — the k ∝ N SemDeDup
contract):
- q_semdedup: 4.2s → 16.4s for 10× vectors (output rows 2k → 20k).
  Linear in N as the contract promises — per-cluster pair work is
  O(c̄²) with c̄ held constant; only cluster COUNT grew. The same
  probe with labels NOT re-spread would grow pairs 100× — that is
  the mis-sizing the MAX_CLUSTER guard exists to catch.
- q_pq_encode: 0.9s → 3.3s for 10× vectors (rows 16k → 160k) —
  plainly linear; the broadcast codebook and packed-BIGINT argmin
  have no pair stage at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.rank import top_k
from ..functions.stable import rnd
from ..registry import query
from .embedsearch import DIMS, N_QUERIES, TOP_K, _oracle_dot, _oracle_norm, dot, norm

#: SemDeDup near-duplicate threshold — same value as embedsearch's
#: COSINE_VERIFY so the LSH pass and the cluster pass agree on what
#: "near" means.
SEMDEDUP_TAU = 0.3

#: Plan-embedded guard: within-cluster pairing is O(c²) per cluster
#: BY DESIGN (the paper's trade — k is chosen so c̄ stays small). A
#: cluster this hot means the index build is mis-sized, and the scan
#: fails loudly instead of silently going quadratic.
MAX_CLUSTER = 100_000

# --- product quantization geometry ---
PQ_M = 8  # subspaces
PQ_SUB = DIMS // PQ_M  # dims per subspace
PQ_K = 16  # codebook entries per subspace (a 4-bit code)
#: d2 over PQ_SUB dims of unit-ish floats is < 8; ×1e8 < 8e8, ×K
#: fits BIGINT with ~9 orders of headroom. The pack is
#: floor(d2·1e8 + 0.5)·K + code, so BIGINT min == (d2 asc, code asc)
#: argmin — one HashAggregate, no sort, no struct min_by.
PQ_PACK_SCALE = 100_000_000


def _semdedup_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding, {_oracle_norm('embedding')} AS nrm
      FROM embeddings
    ),
    near AS (
      SELECT b.vec_id AS vec_id,
             {_oracle_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_oracle_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
            >= {SEMDEDUP_TAU}
    )
    SELECT v.vec_id, v.label AS cluster,
           CAST(count(n.sim) AS BIGINT) AS n_near,
           floor(max(n.sim) * 1000000 + 0.5) / 1000000 AS max_sim,
           count(n.sim) = 0 AS kept
    FROM e v LEFT JOIN near n ON n.vec_id = v.vec_id
    GROUP BY v.vec_id, v.label
    """


def semdedup_report(emb: DataFrame, tau: float = SEMDEDUP_TAU) -> DataFrame:
    """SemDeDup sweep over (vec_id, label, embedding): drop any
    vector whose cosine similarity to a LOWER-id member of its own
    coarse cluster is ≥ τ; the lowest id of each near-dup group
    survives as the representative.

    The greedy keep-lowest-id rule is the deterministic variant used
    in production semantic-dedup passes (NeMo-Curator's semdedup
    does the same "drop if near an earlier item" sweep); the paper's
    keep-farthest-from-centroid tie-break changes WHICH member
    survives, never how many groups there are.

    Scale shape: one shuffle of (cluster, vec) keyed on the cluster
    id feeds a sort-merge self-join — pair generation is cluster-
    local, O(c²) per cluster with c̄ held constant by k ∝ N (the
    SemDeDup contract). A plan-embedded raise_error trips if any
    cluster exceeds MAX_CLUSTER (mis-sized index ⇒ fail loudly, the
    resolution.py guard pattern). The near-pair stream then
    aggregates by the HIGHER vec_id (map-side combine; output is one
    row per vector) and left-joins back so kept vectors appear with
    n_near = 0.
    """
    e = emb.select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    # 1-row lazy guard, folded into a kept expression below (the
    # resolution.py pattern — a dropped guard column would be pruned
    # away along with its raise_error)
    guard = (
        e.groupBy("label")
        .agg(F.count("*").alias("__csize"))
        .agg(F.max("__csize").alias("__max_c"))
        .select(
            # coalesce: max over ZERO rows is NULL, and a NULL
            # condition would fall through to raise_error — an empty
            # embeddings table is a valid (empty) input, not a
            # mis-sized index
            F.when(F.coalesce(F.col("__max_c"), F.lit(0)) <= MAX_CLUSTER, F.lit(1))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("semdedup: hottest cluster has "),
                        F.col("__max_c").cast("string"),
                        F.lit(
                            f" members, over the MAX_CLUSTER={MAX_CLUSTER} cap"
                            " — re-size the coarse index (k ∝ N) before the"
                            " O(c²) within-cluster pass"
                        ),
                    )
                )
            )
            .alias("__guard_ok")
        )
    )
    a = e.select(
        F.col("label"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = e.select(
        F.col("label"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    near = (
        a.join(b, ["label"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "sim",
            dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm")),
        )
        .filter(F.col("sim") >= tau)
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.count("*").alias("n_near"), F.max("sim").alias("__max_sim"))
    )
    return (
        e.select("vec_id", F.col("label").alias("cluster"))
        .join(near, "vec_id", "left")
        .crossJoin(F.broadcast(guard))
        .select(
            "vec_id",
            "cluster",
            (
                F.coalesce(F.col("n_near"), F.lit(0)).cast("long")
                + F.lit(0) * F.col("__guard_ok")
            ).cast("long").alias("n_near"),
            rnd(F.col("__max_sim"), 6).alias("max_sim"),
            F.col("n_near").isNull().alias("kept"),
        )
    )


@query("q_semdedup", oracle=_semdedup_oracle())
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for :func:`semdedup_report` over the embeddings
    table (see that docstring for semantics and the 100 TB shape)."""
    return semdedup_report(load(spark, sf_dir, "embeddings"))


def _pq_oracle() -> str:
    sub_slice = "list_slice({v}, m * {s} + 1, m * {s} + {s})"
    d2 = (
        f"list_sum(list_transform(range(1, {PQ_SUB} + 1), "
        "i -> (CAST(vs[i] AS DOUBLE) - CAST(cs[i] AS DOUBLE))"
        " * (CAST(vs[i] AS DOUBLE) - CAST(cs[i] AS DOUBLE))))"
    )
    return f"""
    WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    sub AS (
      SELECT vec_id, m, {sub_slice.format(v='embedding', s=PQ_SUB)} AS vs
      FROM embeddings CROSS JOIN ms
    ),
    cb AS (
      SELECT vec_id AS code, m,
             {sub_slice.format(v='embedding', s=PQ_SUB)} AS cs
      FROM embeddings CROSS JOIN ms WHERE vec_id < {PQ_K}
    ),
    packed AS (
      SELECT s.vec_id, s.m,
             min(CAST(floor({d2} * {PQ_PACK_SCALE} + 0.5) AS BIGINT)
                 * {PQ_K} + c.code) AS pk
      FROM sub s JOIN cb c ON c.m = s.m
      GROUP BY s.vec_id, s.m
    )
    SELECT vec_id, m AS sub_idx,
           CAST(pk % {PQ_K} AS BIGINT) AS code,
           floor((pk // {PQ_K}) / {PQ_PACK_SCALE}.0 * 1000000 + 0.5) / 1000000
             AS sq_dist
    FROM packed
    """


def pq_encode(emb: DataFrame) -> DataFrame:
    """Product-quantization encoding: each vector's M contiguous
    subvectors are replaced by the id of the nearest codebook entry
    (squared-L2, code-asc tie-break). The codebook is training-free
    and deterministic — subspace m's entries are the subvectors of
    the PQ_K lowest vec_ids — so both engines regenerate it from the
    data; a production build would swap in per-subspace k-means
    centroids from q_ivf_centroids without touching the plan.

    Scale shape: codebook = K·M tiny rows → broadcast. The vector
    side posexplodes into (vec_id, m, subvec) — a codegen generator,
    M rows per vector — joins the broadcast codebook on m, folds the
    squared distance left-to-right in codegen, and argmins via the
    packed-BIGINT min (resolution.py's sort-free trick): ONE
    HashAggregate with map-side combine, no window, no min_by
    struct sort. Output is the flat (vec_id, sub_idx) grain —
    N·M rows, 4-bit codes ready to bit-pack at write time.
    """
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: F.slice(F.col("embedding"), m * PQ_SUB + 1, PQ_SUB),
    )
    sub = emb.select(
        "vec_id", F.posexplode(subs).alias("m", "vs")
    )
    cb = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("code"), F.posexplode(subs).alias("m", "cs"))
    )
    d2 = F.aggregate(
        F.zip_with(
            "vs",
            "cs",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pack = (
        F.floor(d2 * PQ_PACK_SCALE + F.lit(0.5)).cast("long") * PQ_K
        + F.col("code")
    )
    packed = (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", pack.alias("pk"))
        .groupBy("vec_id", "m")
        .agg(F.min("pk").alias("pk"))
    )
    return packed.select(
        "vec_id",
        F.col("m").alias("sub_idx"),
        (F.col("pk") % PQ_K).cast("long").alias("code"),
        rnd(
            (F.col("pk") / PQ_K).cast("long") / float(PQ_PACK_SCALE), 6
        ).alias("sq_dist"),
    )


@query("q_pq_encode", oracle=_pq_oracle())
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for :func:`pq_encode` over the embeddings table
    (see that docstring for semantics and the 100 TB shape)."""
    return pq_encode(load(spark, sf_dir, "embeddings"))


def _pq_recall_oracle() -> str:
    sub_slice = "list_slice({v}, m * {s} + 1, m * {s} + {s})"
    d2 = (
        f"list_sum(list_transform(range(1, {PQ_SUB} + 1), "
        "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )
    full_d2 = (
        f"list_sum(list_transform(range(1, {PQ_SUB * PQ_M} + 1), "
        "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )
    return f"""
    WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    sub AS (
      SELECT vec_id, m, {sub_slice.format(v='embedding', s=PQ_SUB)} AS vs
      FROM embeddings CROSS JOIN ms
    ),
    cb AS (
      SELECT vec_id AS code, m,
             {sub_slice.format(v='embedding', s=PQ_SUB)} AS cs
      FROM embeddings CROSS JOIN ms WHERE vec_id < {PQ_K}
    ),
    codes AS (
      SELECT s.vec_id, s.m,
             CAST(min(CAST(floor({d2.format(a='s.vs', b='c.cs')}
                   * {PQ_PACK_SCALE} + 0.5) AS BIGINT) * {PQ_K} + c.code)
                  % {PQ_K} AS BIGINT) AS code
      FROM sub s JOIN cb c ON c.m = s.m
      GROUP BY s.vec_id, s.m
    ),
    q AS (SELECT vec_id AS q_id, m, vs AS qs FROM sub WHERE vec_id < {N_QUERIES}),
    lut AS (
      SELECT q.q_id, c.m, c.code,
             {d2.format(a='q.qs', b='c.cs')} AS d2
      FROM q JOIN cb c ON c.m = q.m
    ),
    adc AS (
      SELECT l.q_id, k.vec_id,
             CAST(sum(CAST(floor(l.d2 * {PQ_PACK_SCALE} + 0.5) AS BIGINT))
                  AS BIGINT) AS dist_fp
      FROM codes k JOIN lut l ON l.m = k.m AND l.code = k.code
      WHERE k.vec_id <> l.q_id
      GROUP BY l.q_id, k.vec_id
    ),
    adc_top AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dist_fp ASC, vec_id ASC) AS rn
      FROM adc
    ),
    exact AS (
      SELECT a.vec_id AS q_id, b.vec_id,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY {full_d2.format(a='a.embedding', b='b.embedding')} ASC,
                        b.vec_id ASC) AS rn
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT e.q_id AS query_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_overlap,
           floor((count(a.vec_id) * 1.0 / {TOP_K}) * 10000 + 0.5) / 10000
             AS recall_at_k
    FROM (SELECT * FROM exact WHERE rn <= {TOP_K}) e
    LEFT JOIN (SELECT * FROM adc_top WHERE rn <= {TOP_K}) a
      ON a.q_id = e.q_id AND a.vec_id = e.vec_id
    GROUP BY e.q_id
    """


@query("q_pq_recall", oracle=_pq_recall_oracle())
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index quality: recall@k of ADC (asymmetric distance
    computation — the actual IVF-PQ query path: per-query lookup
    table of query-subvector→codebook-entry distances, summed over
    each candidate's codes) against exact L2 top-k, per query.

    Distances are summed as fixed-point BIGINTs (each subspace term
    floor-scaled exactly as pq_encode packs them), so the ADC
    ranking is exact integer arithmetic — order- and
    engine-independent with no float-summation caveats at all.

    Scale shape: the LUT is queries×M×K rows (tiny — this is PQ's
    whole point: K·M distance computations per query, then pure
    table lookups) → broadcast onto the codes table; the per-
    (query, candidate) aggregation is ONE hash aggregate over
    N·M·Q id-sized rows; top-k is a per-query window. The exact-L2
    side is the brute-force baseline being measured against, same
    role as q_knn_recall's.

    Expected numbers: with the deterministic training-free codebook
    (PQ_K lowest vec_ids) over random synthetic vectors, recall@5 is
    LOW (0-0.4 at sf0.01) — honestly measured, not a defect: 16
    arbitrary codewords per subspace quantize random 8-d subvectors
    coarsely. Swapping in per-subspace k-means centroids
    (q_ivf_centroids machinery) raises it; this query exists so that
    tuning is measurable.
    """
    emb = load(spark, sf_dir, "embeddings")
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: F.slice(F.col("embedding"), m * PQ_SUB + 1, PQ_SUB),
    )
    sub = emb.select("vec_id", F.posexplode(subs).alias("m", "vs"))
    cb = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("code"), F.posexplode(subs).alias("m", "cs"))
    )
    d2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    codes = (
        sub.join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            (
                F.floor(d2(F.col("vs"), F.col("cs")) * PQ_PACK_SCALE + F.lit(0.5))
                .cast("long")
                * PQ_K
                + F.col("code")
            ).alias("pk"),
        )
        .groupBy("vec_id", "m")
        .agg((F.min("pk") % PQ_K).cast("long").alias("code"))
    )
    q = sub.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "m", F.col("vs").alias("qs")
    )
    lut = q.join(F.broadcast(cb), "m").select(
        "q_id",
        "m",
        "code",
        F.floor(d2(F.col("qs"), F.col("cs")) * PQ_PACK_SCALE + F.lit(0.5))
        .cast("long")
        .alias("d2_fp"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2_fp").cast("long").alias("dist_fp"))
    )
    adc_top = top_k(
        adc, TOP_K, [F.asc("dist_fp"), F.asc("vec_id")], by=["q_id"]
    ).select("q_id", "vec_id", F.lit(1).alias("__hit"))
    qfull = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    ed2 = emb.join(F.broadcast(qfull), F.col("vec_id") != F.col("q_id")).withColumn(
        "__d2", d2(F.col("q_emb"), F.col("embedding"))
    )
    exact_top = top_k(ed2, TOP_K, [F.asc("__d2"), F.asc("vec_id")], by=["q_id"]).select(
        "q_id", "vec_id"
    )
    return (
        exact_top.join(adc_top, ["q_id", "vec_id"], "left")
        .groupBy(F.col("q_id").alias("query_id"))
        .agg(
            F.count("__hit").cast("long").alias("n_overlap"),
            rnd(F.count("__hit") * 1.0 / TOP_K, 4).alias("recall_at_k"),
        )
    )
