"""Similarity search over the embedding column (build-plan step 6).

Two plans over ``embeddings`` (64-dim float vectors):
- brute-force cosine top-k: the correctness baseline — broadcast the
  query set, score every candidate, per-query top-k via window;
- IVF-style pruned top-k: candidates restricted to the query's
  coarse cluster (``label`` stands in for a k-means cell id); at
  100 TB this is the real plan — the centroid assignment bounds each
  query's candidate set, turning a cross product into a bucketed
  equi-join (same role LSH bands play for dedup).

Float parity: dot products are computed as an explicit left-to-right
fold over double-cast elements in BOTH engines (F.aggregate here,
list_sum(list_transform(range…)) in DuckDB), so the summation order
is identical and rounded similarities hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.lsh import band_pairs
from ..functions.rank import first_per_key, top_k
from ..functions.stable import rnd
from ..registry import query

TOP_K = 5
N_QUERIES = 10  # queries = vec_id < N_QUERIES

# --- random-hyperplane LSH (q_dedup_embed) ---
N_PLANES = 32  # 4 bands × 8 sign-bits
N_BANDS = 4
BITS_PER_BAND = N_PLANES // N_BANDS
COSINE_VERIFY = 0.3
DIMS = 64


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i], double-cast, strict left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


_DOT_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _oracle_dot(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b)


def _oracle_norm(a: str) -> str:
    return f"sqrt({_oracle_dot(a, a)})"


def _knn_bruteforce_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding, {_oracle_norm('embedding')} AS nrm
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id,
             c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             {_oracle_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS sim
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, neighbor_label, rn AS rank,
           floor(sim * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM ranked WHERE rn <= {TOP_K}
    """


@query("q_knn_bruteforce", oracle=_knn_bruteforce_oracle())
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a broadcast query set.

    The query side is tiny → broadcast; the candidate scan streams
    once with no shuffle until the per-query window (partitioned by
    query_id — N_QUERIES partitions, each ≤ |candidates| rows).
    """
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            "sim",
        )
    )
    return top_k(
        scored, TOP_K, [F.desc("sim"), F.asc("neighbor_id")], by=["query_id"]
    ).select("query_id", "neighbor_id", "neighbor_label", "rank", rnd(F.col("sim"), 6).alias("cosine_sim"))


def _hyperplane(k: int) -> list[float]:
    """Deterministic pseudo-random hyperplane k: component i is
    md5("k:i") hex prefix scaled to [−0.5, 0.5). Reproducible in any
    engine with md5 — the DuckDB oracle regenerates the identical
    planes in SQL, so no plane data ever needs shipping."""
    import hashlib

    return [
        int(hashlib.md5(f"{k}:{i}".encode()).hexdigest()[:8], 16) / 2**32 - 0.5
        for i in range(1, DIMS + 1)
    ]


def band_signatures(vectors: DataFrame) -> DataFrame:
    """(vec_id, embedding, nrm, bands): the random-hyperplane LSH band
    array of each vector — N_PLANES sign bits of dot products against
    the md5 hyperplanes, packed into N_BANDS ``"band|bits"`` strings.
    The one builder behind q_dedup_embed and the streaming vector
    screen (streaming/vectors.py); a narrow no-shuffle projection."""
    bits = [
        F.when(dot(F.col("embedding"), F.array(*[F.lit(x) for x in _hyperplane(k)])) >= 0, "1")
        .otherwise("0")
        for k in range(N_PLANES)
    ]
    bands = F.array(
        *[
            F.concat(F.lit(f"{band}|"), *bits[BITS_PER_BAND * band : BITS_PER_BAND * (band + 1)])
            for band in range(N_BANDS)
        ]
    )
    return vectors.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm"), bands.alias("bands")
    )


def cosine_pairs(
    pairs: DataFrame, a: str, b: str, left: DataFrame, right: DataFrame | None = None
) -> DataFrame:
    """``pairs`` plus ``cosine_sim``, the cosine between vector ``a``
    of ``left`` and vector ``b`` of ``right`` (default ``left``): the
    verify step of the hyperplane-LSH passes, joined back to the
    (vec_id, embedding, nrm) payload by id."""
    right = left if right is None else right
    pa = left.select(F.col("vec_id").alias(a), F.col("embedding").alias("__ea"), F.col("nrm").alias("__na"))
    pb = right.select(F.col("vec_id").alias(b), F.col("embedding").alias("__eb"), F.col("nrm").alias("__nb"))
    sim = dot(F.col("__ea"), F.col("__eb")) / (F.col("__na") * F.col("__nb"))
    return pairs.join(pa, a).join(pb, b).select(*pairs.columns, sim.alias("cosine_sim"))


_R_SQL = (
    "(CAST('0x' || substr(md5('{k}:' || i), 1, 8) AS BIGINT)"
    " / 4294967296.0 - 0.5)"
)


def _oracle_plane_dot(k: int) -> str:
    r = _R_SQL.format(k=k)
    return (
        f"list_sum(list_transform(range(1, {DIMS + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * {r}))"
    )


def _dedup_embed_oracle() -> str:
    bit_cols = ", ".join(
        f"CASE WHEN {_oracle_plane_dot(k)} >= 0 THEN '1' ELSE '0' END AS b{k}"
        for k in range(N_PLANES)
    )
    band_exprs = ", ".join(
        "'{}|' || {}".format(
            band,
            " || ".join(f"b{BITS_PER_BAND * band + r}" for r in range(BITS_PER_BAND)),
        )
        for band in range(N_BANDS)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, embedding, {_oracle_norm('embedding')} AS nrm, {bit_cols}
      FROM embeddings
    ),
    sigs AS (
      SELECT vec_id, embedding, nrm, unnest([{band_exprs}]) AS sig FROM e
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_oracle_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS sim
      FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, floor(sim * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM cand WHERE sim >= {COSINE_VERIFY}
    """


@query("q_dedup_embed", oracle=_dedup_embed_oracle())
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH.

    The 100 TB shape: per vector, {N_PLANES} sign-bits of dot
    products against fixed md5-derived hyperplanes (a narrow
    no-shuffle projection), packed into {N_BANDS} band signatures;
    candidate pairs come ONLY from band-bucket self-joins (shuffle on
    the 8-bit signature — never an all-pairs product), then exact
    cosine verification at ≥ {COSINE_VERIFY} prunes false positives.
    Recall is tunable with bands × bits (4×8 here); the brute-force
    q_knn_bruteforce is the recall yardstick.
    """
    e = band_signatures(load(spark, sf_dir, "embeddings"))
    pairs = band_pairs(e, "vec_id", "bands").select(
        F.col("vec_id_a").alias("vec_a"), F.col("vec_id_b").alias("vec_b")
    )
    return (
        cosine_pairs(pairs, "vec_a", "vec_b", e)
        .filter(F.col("cosine_sim") >= COSINE_VERIFY)
        .select("vec_a", "vec_b", rnd(F.col("cosine_sim"), 6).alias("cosine_sim"))
    )


def _knn_ivf_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding, {_oracle_norm('embedding')} AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id,
             c.vec_id AS neighbor_id,
             {_oracle_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS sim
      FROM e q JOIN e c ON q.label = c.label AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, rn AS rank, floor(sim * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM ranked WHERE rn <= {TOP_K}
    """


@query("q_knn_ivf", oracle=_knn_ivf_oracle())
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style pruned top-k: candidates share the query's coarse
    cluster (label ≈ centroid cell).

    The equi-join on the cluster id replaces the cross product —
    per-query work drops from |all| to |cell|. This is the ANN scale
    path; recall vs q_knn_bruteforce is measurable by diffing the two
    results.
    """
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        e.join(
            F.broadcast(q),
            (F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("sim", dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "sim")
    )
    return top_k(
        scored, TOP_K, [F.desc("sim"), F.asc("neighbor_id")], by=["query_id"]
    ).select("query_id", "neighbor_id", "rank", rnd(F.col("sim"), 6).alias("cosine_sim"))


def _knn_recall_oracle() -> str:
    return f"""
    WITH bf AS (
      SELECT query_id, neighbor_id FROM ({_knn_bruteforce_oracle()})
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM ({_knn_ivf_oracle()})
    )
    SELECT b.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_overlap,
           count(i.neighbor_id) * 1.0 / {TOP_K} AS recall_at_k
    FROM bf b
    LEFT JOIN ivf i ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id
    """


@query("q_knn_recall", oracle=_knn_recall_oracle())
def q_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured ANN quality: recall@k of the IVF-pruned plan against
    the brute-force ground truth, per query — the metric that decides
    whether a pruning strategy is shippable ("measure, don't guess").

    Composes the two existing top-k plans and reduces to one tiny
    (n_queries-row) aggregate; both sides and the comparison are the
    same in the oracle, so the hash pins the whole measurement
    pipeline, not just the number.
    """
    bf = q_knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = (
        q_knn_ivf(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        bf.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("__hit").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            (F.col("n_overlap") * 1.0 / TOP_K).alias("recall_at_k"),
        )
    )


@query(
    "q_ivf_centroids",
    oracle="""
    WITH u AS (
      SELECT label,
             unnest(list_transform(range(1, len(embedding) + 1),
                    i -> {'d': i - 1, 'v': embedding[i]})) AS e
      FROM embeddings
    )
    SELECT label, e.d AS dim_idx,
           CAST(count(*) AS BIGINT) AS n_members,
           floor((CAST(sum(CAST(e.v AS DECIMAL(38,10))) AS DOUBLE) / count(*))
                 * 1000000 + 0.5) / 1000000 AS centroid_val
    FROM u GROUP BY label, e.d
    """,
)
def q_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index-build step (one Lloyd/k-means centroid update):
    element-wise mean of every cluster's member vectors, flat
    (label, dim_idx) grain so the result is hash-checkable.

    Scale shape: posexplode to (label, dim, value) — a codegen
    generator, rows = N×D but each is 16 bytes — then ONE hash
    aggregation keyed (label, dim): |labels|·D output rows regardless
    of corpus size, with map-side partial aggregation doing almost
    all the work. Float parity: members are summed as DECIMAL(38,10)
    (exact, order-independent — functions/stable.py rationale), so
    the mean is identical across partitionings and engines.
    """
    emb = load(spark, sf_dir, "embeddings")
    u = emb.select(
        "label", F.posexplode("embedding").alias("dim_idx", "v")
    )
    return u.groupBy("label", "dim_idx").agg(
        F.count("*").alias("n_members"),
        rnd(
            F.sum(F.col("v").cast("decimal(38,10)")).cast("double") / F.count("*"),
            6,
        ).alias("centroid_val"),
    )


def _centroid_arrays_sql() -> str:
    """Shared oracle CTEs: per-label centroid as an ORDERED array of
    the 6-dp-rounded means (same rounding as q_ivf_centroids, so the
    two queries describe one consistent index build)."""
    return """
    WITH u AS (
      SELECT label, vec_id, embedding,
             unnest(list_transform(range(1, len(embedding) + 1),
                    i -> {'d': i - 1, 'v': embedding[i]})) AS e
      FROM embeddings
    ),
    cm AS (
      SELECT label, e.d AS d,
             floor((CAST(sum(CAST(e.v AS DECIMAL(38,10))) AS DOUBLE) / count(*))
                   * 1000000 + 0.5) / 1000000 AS cv
      FROM u GROUP BY label, e.d
    ),
    cent AS (
      SELECT label AS c_label, list(cv ORDER BY d) AS c_vec FROM cm GROUP BY label
    )
    """


@query(
    "q_ivf_reassign",
    oracle=_centroid_arrays_sql()
    + """,
    dists AS (
      SELECT v.vec_id, v.label AS old_label, c.c_label,
             list_sum(list_transform(range(1, len(v.embedding) + 1),
                      i -> (CAST(v.embedding[i] AS DOUBLE) - c.c_vec[i])
                         * (CAST(v.embedding[i] AS DOUBLE) - c.c_vec[i]))) AS d2
      FROM embeddings v CROSS JOIN cent c
    ),
    best AS (
      SELECT vec_id, old_label, c_label AS new_label, d2,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2 ASC, c_label ASC) AS rn
      FROM dists
    )
    SELECT old_label, new_label,
           count(*) AS n_vectors,
           floor((CAST(sum(CAST(d2 AS DECIMAL(38,10))) AS DOUBLE) / count(*))
                 * 10000 + 0.5) / 10000 AS avg_sq_dist
    FROM best WHERE rn = 1
    GROUP BY old_label, new_label
    """,
)
def q_ivf_reassign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of the Lloyd iteration: reassign every vector
    to its nearest UPDATED centroid (squared-L2, label-asc
    tie-break) and report the old→new transition matrix with the
    per-cell mean squared distance — the convergence diagnostic an
    IVF index build watches.

    Scale shape: centroids are |labels| rows → broadcast cross join
    gives N×K rows (K small by construction), distance is a strict
    left-to-right fold inside codegen, argmin is a per-vector window
    over K rows. Per-pair d2 doubles are engine-identical (fixed-
    order folds over 6-dp centroids); the per-cell mean then sums
    them as DECIMAL(38,10) on BOTH sides so group order cannot move
    the rounded value.
    """
    from ..functions.stable import rnd as _rnd

    emb = load(spark, sf_dir, "embeddings")
    u = emb.select("label", F.posexplode("embedding").alias("d", "v"))
    cm = u.groupBy("label", "d").agg(
        rnd(
            F.sum(F.col("v").cast("decimal(38,10)")).cast("double") / F.count("*"),
            6,
        ).alias("cv")
    )
    cent = cm.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "cv"))), lambda s: s["cv"]
        ).alias("c_vec")
    ).select(F.col("label").alias("c_label"), "c_vec")
    diff2 = F.zip_with(
        "embedding",
        "c_vec",
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    dists = (
        emb.select("vec_id", F.col("label").alias("old_label"), "embedding")
        .join(F.broadcast(cent))
        .withColumn(
            "d2", F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)
        )
    )
    best = first_per_key(dists, ["vec_id"], [F.asc("d2"), F.asc("c_label")])
    return best.groupBy(
        "old_label", F.col("c_label").alias("new_label")
    ).agg(
        F.count("*").alias("n_vectors"),
        _rnd(
            F.sum(F.col("d2").cast("decimal(38,10)")).cast("double") / F.count("*"),
            4,
        ).alias("avg_sq_dist"),
    )


# --- semantic benchmark decontamination (embedding-space twin of
# --- prep.contamination_overlap's n-gram scan) ---

#: hash-holdout: bucket 0 of 20 ⇒ a deterministic ~5% of vectors
#: stand in for the eval benchmark's embeddings
SEMDECON_SALT = "semdecon-v1"
SEMDECON_MOD = 20
#: max-cosine flag threshold: a train vector this close to ANY eval
#: vector is a semantic near-copy of benchmark content. Calibrated
#: to the synthetic corpus (random 64-dim vectors put the top decile
#: of max-cosines at ~0.34 and the max at ~0.48, so 0.4 flags a
#: handful of genuinely-closest vectors at every SF); real embedding
#: spaces run this scan at ~0.9+, where paraphrases of the same
#: benchmark item land.
SEMDECON_TAU = 0.4


def _semdecon_oracle() -> str:
    bucket = (
        f"CAST(('0x' || substr(md5('{SEMDECON_SALT}:' || CAST(vec_id AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % 10000 % {SEMDECON_MOD}"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding, {_oracle_norm('embedding')} AS nrm,
             {bucket} AS b
      FROM embeddings
    ),
    ev AS (SELECT * FROM e WHERE b = 0),
    tr AS (SELECT * FROM e WHERE b <> 0),
    best AS (
      SELECT t.vec_id, any_value(t.label) AS label,
             max({_oracle_dot('t.embedding', 'v.embedding')} / (t.nrm * v.nrm))
               AS max_sim
      FROM tr t CROSS JOIN ev v
      GROUP BY t.vec_id
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN max_sim >= {SEMDECON_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           floor(max(max_sim) * 1000000 + 0.5) / 1000000 AS max_sim
    FROM best GROUP BY label
    """


@query("q_semantic_decontam", oracle=_semdecon_oracle())
def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination: flag train vectors whose
    max cosine against ANY eval-benchmark vector reaches τ — the
    embedding-space complement of the word-3-gram overlap scan
    (prep.contamination_overlap). N-gram overlap misses paraphrased
    benchmark leakage; embedding similarity catches it (the published
    recipe, e.g. the paraphrase-contamination audits of 2023-24 —
    same plan as SemDeDup but measured against a FIXED eval set).

    A deterministic ~5% hash holdout of ``embeddings`` plays the
    benchmark. Per-label rollup (train count, flagged count, max
    similarity) pins every per-vector verdict through the count + the
    6-dp max.

    Scale shape: the eval side of any decontamination scan is tiny
    (benchmarks are thousands of rows, the pool is billions) →
    broadcast eval, stream the pool once, per-pool-vector max in one
    hash aggregate with map-side combine. No window; the big side
    pays one combine-reduced vec_id-keyed shuffle (one row per train
    vector after map-side max) plus the final label-keyed rollup. The scoring
    here is the fold-based dot product (oracle-exact summation
    order). At extreme eval sizes the
    IVF/LSH bucketing upstream (q_knn_ivf / q_dedup_embed) bounds
    candidates first.
    """
    from .sampling import sample_bucket

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.pmod(sample_bucket(F.col("vec_id"), SEMDECON_SALT), F.lit(SEMDECON_MOD)).alias(
            "b"
        ),
    )
    best = eval_max_similarity(
        e.filter(F.col("b") != 0).drop("b"),
        e.filter(F.col("b") == 0).select("embedding"),
    )
    return best.groupBy("label").agg(
        F.count("*").alias("n_train"),
        F.sum(F.when(F.col("max_sim") >= SEMDECON_TAU, 1).otherwise(0)).alias(
            "n_flagged"
        ),
        rnd(F.max("max_sim"), 6).alias("max_sim"),
    )


def eval_max_similarity(train: DataFrame, ev: DataFrame) -> DataFrame:
    """(vec_id, label, max_sim): each train vector's max cosine
    against the (broadcast) eval set — the per-vector core of
    q_semantic_decontam, factored so crafted tests can drive the
    flagging path with planted near-copies.

    Zero-norm vectors (padded/empty embeddings in real corpora): a
    cosine against one is undefined — ``try_divide`` makes it NULL
    (ANSI sessions would otherwise raise mid-stage), F.max skips
    NULLs, and a zero-norm TRAIN vector surfaces with max_sim NULL.
    The oracle corpus has no zero vectors, so the DuckDB side never
    exercises the branch.
    """
    evn = ev.select(
        F.col("embedding").alias("ev_emb"), norm(F.col("embedding")).alias("ev_nrm")
    )
    return (
        train.withColumn("nrm", norm(F.col("embedding")))
        .join(F.broadcast(evn))
        .withColumn(
            "sim",
            F.try_divide(
                dot(F.col("embedding"), F.col("ev_emb")),
                F.col("nrm") * F.col("ev_nrm"),
            ),
        )
        .groupBy("vec_id")
        .agg(F.any_value("label").alias("label"), F.max("sim").alias("max_sim"))
    )


