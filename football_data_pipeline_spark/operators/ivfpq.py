"""Trained IVF-PQ with exact re-rank — the production ANN serving
path (the IVFADC + refine design of Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011), built from
the engine's measured building blocks and pinned end-to-end by the
driver oracle.

Round-5 shipped the machinery with a training-free codebook and
label-cell routing and honestly reported mean recall@5 = **0.06** at
sf0.01. Round-6 measured WHY (decomposed on the driver's own data):

- the `label` column is NOT a geometric clustering — only 8-16% of
  each query's true L2 top-5 share its label, so label-cell routing
  caps recall at ~0.12-0.32 no matter how good the quantizer is;
- the vectors are unit-norm (L2 ordering == cosine ordering), and
  16 arbitrary codewords per subspace quantize them too coarsely
  for a direct ADC top-5.

The fix is the textbook one, all three stages trained/refined:

    train:  per-subvector k-means PQ codebook AND a full-width
            coarse quantizer (COARSE_K cells) — KMEANS_ITERS
            unrolled Lloyd rounds each, deterministically seeded
            from the first K vectors; every vector is assigned to
            its nearest coarse centroid (real IVF cells, not the
            external label column)
    route:  each query probes its NPROBE nearest coarse cells
    score:  ADC — per-query LUT of subvector->codeword distances,
            summed over each candidate's M codes (table lookups,
            never the full vectors)
    refine: exact L2 re-rank of the ADC top-SHORTLIST, then top-k
            (the refine stage every production IVF-PQ deploys —
            PQ ranks a shortlist, exact distances settle it)

Measured at sf0.01 (N=500, 64-dim, COARSE_K=16, NPROBE=3, M=8,
K=16, SHORTLIST=50, k=5): mean recall@5 **0.86** vs the 0.88
routing ceiling (exact search restricted to the probed cells) with
full-corpus training, **0.82** vs a 0.84 ceiling with the
TRAIN_SAMPLE=448 bounded-training knob the registered query ships
(r7; full sweep at the constant), while ADC touches ~19% of the
full pair space — vs **0.06** for r5's training-free/label-routed
form. Quantization loss after the refine
stage is 0.02; the residual is routing, bought back by NPROBE.

Float/engine parity of the TRAINING loop: every Lloyd update sums
members as DECIMAL(38,10) (exact, order-independent) and rounds the
mean to 6 dp before the next assignment, so each iteration's
codebook is an engine-exact artifact; assignments argmin over
fixed-point (1e8-scaled) distances via the packed-BIGINT min — the
same trick semdedup.pq_encode uses. Empty clusters keep their
previous codeword (COALESCE on both engines). All distance folds
are sequential left folds (Spark F.aggregate == DuckDB list_sum
over list_transform), so summation order is pinned.

Scale shape at 100 TB: training cost is (sample x K) distances per
iteration per quantizer — you train on a bounded sample (a k-means
codebook wants ~10k-100k training points, not the corpus; the
sample bound is the knob, the loop shape is unchanged) — and both
codebooks are broadcast-sized by construction (COARSE_K x D +
M x K x D/M doubles, ~12 KB here). Serving work: the per-query LUT
is queries x M x K rows (PQ's whole point); candidates scale with
NPROBE/COARSE_K of the corpus, touched only as (id, code) pairs in
one hash aggregate; the refine stage fetches exactly
queries x SHORTLIST full vectors (a bounded id-join, the same
access pattern as any point-lookup); the exact-L2 side is the audit
baseline, not the serving path. Reference tie-in: the reference has
no vector search; this is the engine's extension family (SURVEY §2
scale extensions), where COARSE_K, NPROBE, SHORTLIST, M and K are
the only knobs that matter.

Serving frontier at TRAIN_SAMPLE=448 (r9, VERDICT r8 item 5;
tools/ivfpq_frontier.py, sf0.01, mean recall@5 over the 10 driver
queries, medians of 3; wall seconds include the constant training +
exact-audit stages so read them as relative):

    nprobe  shortlist   recall@5   wall_s
       3        25        0.68      4.90
       3        50        0.82      4.76   <- shipped defaults
       3       100        0.84      4.55
       4        25        0.66      5.56
       4        50        0.78      4.44
       5        25        0.64      4.09
       5        50        0.78      4.40
       4/5     100        0.84      4.5

The knob lesson a 100 TB user needs: SHORTLIST is the binding knob
at this corpus/quantizer size, and NPROBE WITHOUT a matching
SHORTLIST increase is mildly counterproductive — extra probed cells
add ADC candidates whose quantization-noisy scores displace true
neighbors from a fixed-size shortlist (0.82 -> 0.78 at
shortlist=50). At shortlist=100 every nprobe reaches the 0.84
routing ceiling: quantization loss is fully bought back by refine
depth, after which only routing (nprobe) bounds recall. Tune
SHORTLIST first, then raise NPROBE and SHORTLIST together.

10x probe (sf0.1 embeddings replicated 10x, labels re-spread;
medians of 3, tools/scale_probe.py): 6.38 -> 15.39 s — 2.4x time
for 10x vectors. The growth is the audit's exact-L2 baseline
(brute force is 10x more work by construction, as
q_semantic_decontam's probe note documents); the serving path
(train+route+ADC+refine) stays linear in sample/cell/shortlist
size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.rank import top_k
from ..functions.stable import rnd
from ..registry import query
from .embedsearch import N_QUERIES, TOP_K
from .semdedup import DIMS, PQ_K, PQ_M, PQ_PACK_SCALE, PQ_SUB

KMEANS_ITERS = 2  # unrolled Lloyd iterations (both engines, both quantizers)
COARSE_K = 16  # IVF cells (full-width coarse quantizer)
NPROBE = 3  # coarse cells probed per query
SHORTLIST = 50  # ADC candidates re-ranked with exact L2
#: training-sample bound (VERDICT r6 item 4): both quantizers train
#: on the first TRAIN_SAMPLE vectors only (deterministic vec_id
#: prefix, same rule as the k-means seed), while assignment/encode/
#: serving still cover the whole corpus. This IS the 100 TB knob —
#: a k-means codebook wants ~10k-100k training points, never the
#: corpus. Measured sweep at sf0.01 (N=500, 10 queries, recall@5 /
#: routing ceiling): full 0.86/0.88, 448 0.82/0.84, 384 0.74/0.76,
#: 320 0.70/0.76, 256 0.64/0.70 — recall tracks its OWN ceiling
#: within 0.02-0.06 at every sample, i.e. the quantizer+refine path
#: is robust to the bound and what decays is coarse-cell geometry
#: on a 500-vector toy corpus where any true bound is a huge
#: fraction; at real scale the sample (10k+) is abundant relative
#: to COARSE_K. 448 keeps the driver-scale recall at 0.82 while
#: exercising the bounded code path on both engines.
TRAIN_SAMPLE = 448


def _subvectors() -> Column:
    """Mirrors pq_encode's canonical subvector slicing
    (semdedup.py pq_encode) — the training set, the per-QUERY lookup
    table and the candidate encode all slice one way."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: F.slice(F.col("embedding"), m * PQ_SUB + 1, PQ_SUB),
    )


def _d2(a: Column | str, b: Column | str) -> Column:
    """Squared-L2 fold — sequential left fold, so the summation
    order is defined and identical to DuckDB's list_sum over
    list_transform (the parity basis for every distance here)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _fp(c: Column) -> Column:
    """Fixed-point distance (1e8 scale) — the integer the argmin
    pack and the ADC sums operate on (semdedup.py PQ_PACK_SCALE)."""
    return F.floor(c * PQ_PACK_SCALE + F.lit(0.5)).cast("long")


def _assign(sub: DataFrame, cb: DataFrame, k: int) -> DataFrame:
    """Nearest-codeword assignment per (vec_id, m): packed-BIGINT
    argmin min(d2_fp * k + code) % k — one deterministic integer
    min, no window, ties to the lowest code (pq_encode's trick)."""
    return (
        sub.join(F.broadcast(cb), "m")
        .groupBy("vec_id", "m")
        .agg(
            (F.min(_fp(_d2(F.col("vs"), F.col("cs"))) * k + F.col("code")) % k)
            .cast("long")
            .alias("code")
        )
    )


def train_codebook(
    sub: DataFrame, k: int, sample_limit: int | None = None
) -> DataFrame:
    """k-means codebook over (vec_id, m, vs) training rows:
    KMEANS_ITERS Lloyd rounds seeded from the vec_id < k rows
    (code = vec_id). Returns (m, code, cs). Works for both
    quantizers — PQ (m = subspace index) and coarse (m = 0, vs =
    the full vector).

    ``sample_limit`` bounds the TRAINING set to the vec_id <
    sample_limit prefix (deterministic, the same rule as the seed;
    must be >= k) — the 100 TB knob (VERDICT r6 item 4): Lloyd cost
    becomes (sample x k) distances per round regardless of corpus
    size, while callers still assign/encode the full corpus against
    the returned codebook. None trains on everything.

    Each round: packed-argmin assignment, then per-dim member means
    summed as DECIMAL(38,10) (exact, order-independent) rounded to
    6 dp; clusters with no members keep their previous codeword.
    The rounding makes every iteration's codebook an engine-exact
    artifact, so the unrolled DuckDB mirror stays bit-identical.
    """
    if sample_limit is not None:
        if sample_limit < k:
            raise ValueError(f"sample_limit {sample_limit} < k {k}")
        sub = sub.filter(F.col("vec_id") < sample_limit)
    cb = sub.filter(F.col("vec_id") < k).select(
        "m", F.col("vec_id").alias("code"), F.col("vs").alias("cs")
    )
    sub_dim = sub.select("vec_id", "m", F.posexplode("vs").alias("d", "v"))
    for _ in range(KMEANS_ITERS):
        asg = _assign(sub, cb, k)
        means = (
            asg.join(sub_dim, ["vec_id", "m"])
            .groupBy("m", "code", "d")
            .agg(
                rnd(
                    F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
                    / F.count("*"),
                    6,
                ).alias("mv")
            )
        )
        cb_dim = cb.select("m", "code", F.posexplode("cs").alias("d", "cv"))
        cb = (
            cb_dim.join(means, ["m", "code", "d"], "left")
            .select("m", "code", "d", F.coalesce("mv", "cv").alias("cv"))
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "cv"))),
                    lambda s: s["cv"],
                ).alias("cs")
            )
        )
    return cb


def _sql_d2(dims: int, a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {dims} + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


def _sql_fp(x: str) -> str:
    return f"CAST(floor({x} * {PQ_PACK_SCALE} + 0.5) AS BIGINT)"


def _kmeans_oracle_ctes(
    prefix: str, src: str, k: int, dims: int, sample_limit: int | None = None
) -> str:
    """DuckDB mirror of train_codebook: {prefix}cb0 (seed) ->
    assign/means -> {prefix}cb1 -> ... unrolled KMEANS_ITERS times;
    the final codebook CTE is named {prefix}cb (m, code, cs).
    ``sample_limit`` mirrors the bounded-training knob — the Lloyd
    rounds see only the vec_id prefix, exactly like the Spark side."""
    tr = f"{prefix}tr"
    tr_where = f"WHERE vec_id < {sample_limit}" if sample_limit is not None else ""
    parts = [
        f"""{tr} AS (
      SELECT * FROM {src} {tr_where}
    ),
    {prefix}cb0 AS (
      SELECT m, vec_id AS code, vs AS cs FROM {tr} WHERE vec_id < {k}
    ),
    {prefix}sd AS (
      SELECT vec_id, m, e.d AS d, e.v AS v
      FROM (SELECT vec_id, m,
                   unnest(list_transform(range(1, {dims} + 1),
                          i -> {{'d': i - 1, 'v': vs[i]}})) AS e
            FROM {tr}) t
    )"""
    ]
    prev = f"{prefix}cb0"
    for t in range(1, KMEANS_ITERS + 1):
        parts.append(
            f"""{prefix}a{t} AS (
      SELECT s.vec_id, s.m,
             CAST(min({_sql_fp(_sql_d2(dims, 's.vs', 'c.cs'))} * {k} + c.code)
                  % {k} AS BIGINT) AS code
      FROM {tr} s JOIN {prev} c ON c.m = s.m
      GROUP BY s.vec_id, s.m
    ),
    {prefix}m{t} AS (
      SELECT a.m, a.code, sd.d,
             floor((CAST(sum(CAST(sd.v AS DECIMAL(38,10))) AS DOUBLE)
                    / count(*)) * 1000000 + 0.5) / 1000000 AS mv
      FROM {prefix}a{t} a JOIN {prefix}sd sd
        ON sd.vec_id = a.vec_id AND sd.m = a.m
      GROUP BY a.m, a.code, sd.d
    ),
    {prefix}cb{t} AS (
      SELECT cd.m, cd.code, list(coalesce(mn.mv, cd.cv) ORDER BY cd.d) AS cs
      FROM (SELECT m, code, e.d AS d, e.v AS cv
            FROM (SELECT m, code,
                         unnest(list_transform(range(1, {dims} + 1),
                                i -> {{'d': i - 1, 'v': cs[i]}})) AS e
                  FROM {prev}) t) cd
      LEFT JOIN {prefix}m{t} mn
        ON mn.m = cd.m AND mn.code = cd.code AND mn.d = cd.d
      GROUP BY cd.m, cd.code
    )"""
        )
        prev = f"{prefix}cb{t}"
    parts.append(f"{prefix}cb AS (SELECT * FROM {prev})")
    return ",\n    ".join(parts)


def _ivfpq_oracle() -> str:
    d2f = lambda a, b: _sql_d2(DIMS, a, b)  # noqa: E731
    d2s = lambda a, b: _sql_d2(PQ_SUB, a, b)  # noqa: E731
    return f"""
    WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    sub AS (
      SELECT vec_id, m,
             list_slice(embedding, m * {PQ_SUB} + 1, m * {PQ_SUB} + {PQ_SUB}) AS vs
      FROM embeddings CROSS JOIN ms
    ),
    fullv AS (SELECT vec_id, 0 AS m, embedding AS vs FROM embeddings),
    {_kmeans_oracle_ctes('c_', 'fullv', COARSE_K, DIMS, TRAIN_SAMPLE)},
    {_kmeans_oracle_ctes('p_', 'sub', PQ_K, PQ_SUB, TRAIN_SAMPLE)},
    cells AS (
      SELECT s.vec_id,
             CAST(min({_sql_fp(d2f('s.vs', 'c.cs'))} * {COARSE_K} + c.code)
                  % {COARSE_K} AS BIGINT) AS cell
      FROM fullv s JOIN c_cb c ON c.m = s.m
      GROUP BY s.vec_id
    ),
    codes AS (
      SELECT s.vec_id, s.m,
             CAST(min({_sql_fp(d2s('s.vs', 'c.cs'))} * {PQ_K} + c.code)
                  % {PQ_K} AS BIGINT) AS code
      FROM sub s JOIN p_cb c ON c.m = s.m
      GROUP BY s.vec_id, s.m
    ),
    qs AS (
      SELECT vec_id AS q_id, m, vs AS qs FROM sub WHERE vec_id < {N_QUERIES}
    ),
    lut AS (
      SELECT q.q_id, c.m, c.code,
             {_sql_fp(d2s('q.qs', 'c.cs'))} AS d2_fp
      FROM qs q JOIN p_cb c ON c.m = q.m
    ),
    probes AS (
      SELECT q_id, code AS probe_cell FROM (
        SELECT e.vec_id AS q_id, c.code,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2f('e.embedding', 'c.cs')} ASC, c.code ASC) AS rn
        FROM embeddings e CROSS JOIN c_cb c
        WHERE e.vec_id < {N_QUERIES}
      ) t WHERE rn <= {NPROBE}
    ),
    adc AS (
      SELECT l.q_id, k.vec_id,
             CAST(sum(l.d2_fp) AS BIGINT) AS dist_fp
      FROM codes k
      JOIN cells cl ON cl.vec_id = k.vec_id
      JOIN probes p ON p.probe_cell = cl.cell
      JOIN lut l ON l.q_id = p.q_id AND l.m = k.m AND l.code = k.code
      WHERE k.vec_id <> l.q_id
      GROUP BY l.q_id, k.vec_id
    ),
    shortlist AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY dist_fp ASC, vec_id ASC) AS rn
        FROM adc
      ) t WHERE rn <= {SHORTLIST}
    ),
    rerank AS (
      SELECT s.q_id, s.vec_id,
             row_number() OVER (PARTITION BY s.q_id
               ORDER BY {d2f('qe.embedding', 'ce.embedding')} ASC,
                        s.vec_id ASC) AS rn
      FROM shortlist s
      JOIN embeddings qe ON qe.vec_id = s.q_id
      JOIN embeddings ce ON ce.vec_id = s.vec_id
    ),
    exact AS (
      SELECT a.vec_id AS q_id, b.vec_id,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY {d2f('a.embedding', 'b.embedding')} ASC,
                        b.vec_id ASC) AS rn
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT e.q_id AS query_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_overlap,
           floor((count(a.vec_id) * 1.0 / {TOP_K}) * 10000 + 0.5) / 10000
             AS recall_at_k
    FROM (SELECT * FROM exact WHERE rn <= {TOP_K}) e
    LEFT JOIN (SELECT * FROM rerank WHERE rn <= {TOP_K}) a
      ON a.q_id = e.q_id AND a.vec_id = e.vec_id
    GROUP BY e.q_id
    """


@query("q_knn_ivfpq", oracle=_ivfpq_oracle())
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end TRAINED IVF-PQ + refine recall@k per query: train
    both quantizers (coarse cells + PQ codebook, KMEANS_ITERS Lloyd
    rounds each from the deterministic seed), assign every vector to
    its nearest coarse cell, route each query to its NPROBE nearest
    cells, score candidates by fixed-point ADC over their PQ codes,
    exact-L2 re-rank the top-SHORTLIST, take top-k, and compare
    against the exact full-corpus L2 top-k — the composed serving
    path's quality number (routing loss x quantization loss x refine
    together). Training is TRAIN_SAMPLE-bounded (the 100 TB knob,
    r7): mean recall@k at sf0.01 is 0.82 vs a 0.84 routing ceiling
    (full-corpus training: 0.86/0.88; ~19% of the pair space
    ADC-scanned) vs 0.06 for r5's training-free/label-routed form
    (module docstring has the full decomposition, the sample sweep,
    and the r9 NPROBE x SHORTLIST serving frontier).
    """
    return ivfpq_recall(spark, sf_dir)


def ivfpq_recall(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = NPROBE,
    shortlist: int = SHORTLIST,
) -> DataFrame:
    """The q_knn_ivfpq pipeline with the two SERVING knobs exposed —
    nprobe (routing breadth) and shortlist (refine depth) — so
    tools/ivfpq_frontier.py can sweep the recall/latency frontier on
    the exact production path (the registered query is the
    defaults)."""
    emb = load(spark, sf_dir, "embeddings")
    sub = emb.select("vec_id", F.posexplode(_subvectors()).alias("m", "vs"))
    fullv = emb.select(
        "vec_id", F.lit(0).alias("m"), F.col("embedding").alias("vs")
    )
    pq_cb = train_codebook(sub, PQ_K, TRAIN_SAMPLE)
    coarse_cb = train_codebook(fullv, COARSE_K, TRAIN_SAMPLE)
    cells = _assign(fullv, coarse_cb, COARSE_K).select(
        "vec_id", F.col("code").alias("cell")
    )
    codes = _assign(sub, pq_cb, PQ_K)
    q = sub.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "m", F.col("vs").alias("qs")
    )
    lut = q.join(F.broadcast(pq_cb), "m").select(
        "q_id", "m", "code", _fp(_d2(F.col("qs"), F.col("cs"))).alias("d2_fp")
    )
    qfull = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cd2 = qfull.crossJoin(F.broadcast(coarse_cb)).withColumn(
        "__cd2", _d2(F.col("q_emb"), F.col("cs"))
    )
    probes = top_k(cd2, nprobe, [F.asc("__cd2"), F.asc("code")], by=["q_id"]).select(
        "q_id", F.col("code").alias("probe_cell")
    )
    lut_r = lut.select(
        F.col("q_id").alias("l_q_id"),
        F.col("m").alias("l_m"),
        F.col("code").alias("l_code"),
        "d2_fp",
    )
    adc = (
        codes.join(cells, "vec_id")
        .join(F.broadcast(probes), F.col("cell") == F.col("probe_cell"))
        .join(
            F.broadcast(lut_r),
            (F.col("l_q_id") == F.col("q_id"))
            & (F.col("l_m") == F.col("m"))
            & (F.col("l_code") == F.col("code")),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2_fp").cast("long").alias("dist_fp"))
    )
    shortlisted = top_k(
        adc, shortlist, [F.asc("dist_fp"), F.asc("vec_id")], by=["q_id"]
    ).select("q_id", "vec_id")
    rd2 = (
        shortlisted.join(F.broadcast(qfull), "q_id")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .withColumn("__rd2", _d2(F.col("q_emb"), F.col("embedding")))
    )
    rerank = top_k(rd2, TOP_K, [F.asc("__rd2"), F.asc("vec_id")], by=["q_id"]).select(
        "q_id", "vec_id", F.lit(1).alias("__hit")
    )
    ed2 = emb.join(F.broadcast(qfull), F.col("vec_id") != F.col("q_id")).withColumn(
        "__d2", _d2(F.col("q_emb"), F.col("embedding"))
    )
    exact_top = top_k(ed2, TOP_K, [F.asc("__d2"), F.asc("vec_id")], by=["q_id"]).select(
        "q_id", "vec_id"
    )
    return (
        exact_top.join(rerank, ["q_id", "vec_id"], "left")
        .groupBy(F.col("q_id").alias("query_id"))
        .agg(
            F.count("__hit").cast("long").alias("n_overlap"),
            rnd(F.count("__hit") * 1.0 / TOP_K, 4).alias("recall_at_k"),
        )
    )
