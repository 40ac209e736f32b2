"""Training-data mining operators — the selection-side companions to
the dedup/quality/mixing families (new in r7, SURVEY §2 scale
extensions; the reference has no vector or curriculum surface):

- HARD-NEGATIVE MINING (``q_hard_negatives``): for each anchor in a
  bounded query panel, the top-k most-similar vectors carrying a
  DIFFERENT label — the canonical contrastive-training pair source
  (in-batch negatives are easy; the valuable negatives are the
  nearest wrong-label ones). The oracle-checked query is the exact
  yardstick over the broadcast panel (same access pattern as
  q_knn_bruteforce, one corpus scan, per-anchor window); the 100 TB
  serving path is the same composition the ANN family already
  provides — route anchors through the trained IVF cells
  (ivfpq.py) and mine negatives inside probed cells only.
- LEARNABILITY / CONTEXT-GAIN CURRICULUM (``q_learnability``): per
  document, bigram-vs-unigram mean log-probability gain under the
  engine's CCNet-style LMs (lm.py). A document whose bigram model
  beats its unigram model has exploitable local structure (learnable
  text); near-zero gain flags bag-of-words noise (tag soup, lists) —
  a cheap RHO-style two-model difficulty signal computed from counts
  alone, no trained scorer. Plan = the union of the two lm.py plans
  (token + transition count aggregates, model joins) plus one
  doc-keyed join; everything map-side combinable, nothing new at
  100 TB beyond what q_lm_score / q_lm_bigram already ship.
- DIVERSITY QUOTA SAMPLE (``q_diverse_sample``): k-center-style
  stratified representative pick — every corpus vector is assigned
  to its trained coarse IVF cell (ivfpq.train_codebook, the SAME
  TRAIN_SAMPLE-bounded quantizer the serving path uses) and each
  cell reports its population plus its DIVERSE_PER_CELL most
  central members (exact L2 to the trained centroid, deterministic
  ties). Selecting per-cell instead of globally is what makes the
  sample DIVERSE: a global top-N by any score collapses to the
  densest region, while a per-cell quota touches every region of
  the embedding space the quantizer can see. Scale shape: one
  broadcast-codebook assignment pass + a per-cell bounded-output
  window (COARSE_K partitions); training cost is bounded by
  TRAIN_SAMPLE exactly as in ivfpq.py.

Float/engine parity: cosine and L2 reuse embedsearch's proven fold
forms (sequential left folds both engines); LM log-probs reuse
lm.py's stable-rounded decimal summation; the k-means mirror is
ivfpq's unrolled DECIMAL(38,10) oracle.

10x probes (sf0.1 corpus replicated 10x, tools/scale_probe.py,
medians of 3): q_hard_negatives 0.86 -> 2.29 s at constant output
(30 rows — cost tracks the corpus scan, never pairs);
q_learnability 1.85 -> 7.07 s for 10x documents AND 10x output rows
(the LM count aggregates scale with tokens, sub-linear per output
row); q_diverse_sample 3.72 -> 5.16 s (near-flat: TRAIN_SAMPLE
bounds the Lloyd rounds, leaving one linear assignment pass — the
probe corpus's 10 near-copies-per-vector geometry populates fewer
distinct cells, which is the quota doing its job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.rank import top_k
from ..functions.stable import rnd
from ..registry import query
from .embedsearch import N_QUERIES, _oracle_dot, _oracle_norm, dot, norm
from .ivfpq import (
    COARSE_K,
    TRAIN_SAMPLE,
    _assign,
    _d2,
    _kmeans_oracle_ctes,
    _sql_d2,
    train_codebook,
)
from .semdedup import DIMS

#: negatives mined per anchor — small because each lands in a
#: contrastive batch next to ONE positive; more than a handful per
#: anchor just re-samples the same local boundary
HARD_NEG_K = 3

#: representatives reported per IVF cell
DIVERSE_PER_CELL = 2


def _hard_negatives_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding, {_oracle_norm('embedding')} AS nrm
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS anchor_id,
             q.label AS anchor_label,
             c.vec_id AS negative_id,
             c.label AS negative_label,
             {_oracle_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
               AS sim
      FROM q JOIN e c ON c.label <> q.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY sim DESC, negative_id ASC) AS rn
      FROM scored
    )
    SELECT anchor_id, anchor_label, negative_id, negative_label,
           rn AS rank, floor(sim * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM ranked WHERE rn <= {HARD_NEG_K}
    """


@query("q_hard_negatives", oracle=_hard_negatives_oracle())
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for a broadcast anchor panel: per anchor,
    the HARD_NEG_K nearest-by-cosine vectors whose label differs —
    one candidate scan against a broadcast query side, per-anchor
    window, deterministic ties (module docstring has the contrastive
    rationale and the IVF-routed 100 TB path)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("label") != F.col("anchor_label"))
        .withColumn(
            "sim",
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm")),
        )
    )
    return top_k(
        scored, HARD_NEG_K, [F.desc("sim"), F.asc("vec_id")], by=["anchor_id"]
    ).select(
        "anchor_id",
        "anchor_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        "rank",
        rnd(F.col("sim"), 6).alias("cosine_sim"),
    )


def _learnability_oracle() -> str:
    return """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      FROM documents
    ),
    cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (
      SELECT (SELECT count(*) FROM tok) AS n,
             (SELECT count(*) FROM cnt) AS v
    ),
    uni_lm AS (
      SELECT w, floor(ln((c + 1.0) / (n + v)) * 10000 + 0.5) / 10000 AS lp
      FROM cnt CROSS JOIN tot
    ),
    uni AS (
      SELECT t.doc_id,
             floor((CAST(sum(CAST(uni_lm.lp AS DECIMAL(28,4))) AS DOUBLE)
                    / count(*)) * 10000 + 0.5) / 10000 AS uni_logp
      FROM tok t JOIN uni_lm ON uni_lm.w = t.w
      GROUP BY t.doc_id
    ),
    docs_w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    big AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM docs_w, UNNEST(range(1, len(ws))) AS t(i)
    ),
    c1 AS (SELECT w1, count(*) AS c FROM big GROUP BY w1),
    c2 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
    bv AS (SELECT count(DISTINCT w2) AS v FROM big),
    big_lm AS (
      SELECT c2.w1, c2.w2,
             floor(ln((c2.c + 1.0) / (c1.c + bv.v)) * 10000 + 0.5) / 10000
               AS lp
      FROM c2 JOIN c1 ON c1.w1 = c2.w1 CROSS JOIN bv
    ),
    bi AS (
      SELECT b.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             floor((CAST(sum(CAST(big_lm.lp AS DECIMAL(28,4))) AS DOUBLE)
                    / count(*)) * 10000 + 0.5) / 10000 AS bi_logp
      FROM big b JOIN big_lm ON big_lm.w1 = b.w1 AND big_lm.w2 = b.w2
      GROUP BY b.doc_id
    )
    SELECT bi.doc_id, bi.n_bigrams, uni.uni_logp, bi.bi_logp,
           floor((bi.bi_logp - uni.uni_logp) * 10000 + 0.5) / 10000
             AS context_gain
    FROM bi JOIN uni ON uni.doc_id = bi.doc_id
    """


@query("q_learnability", oracle=_learnability_oracle())
def q_learnability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document context gain: mean bigram log-prob minus mean
    unigram log-prob under lm.py's add-one-smoothed corpus models —
    the two-model learnability signal a curriculum orders by (module
    docstring). Documents with < 2 tokens have no transitions and
    drop out, exactly as in q_lm_bigram."""
    from .lm import lm_score, lm_score_bigram

    docs = load(spark, sf_dir, "documents")
    uni = lm_score(docs).select(
        "doc_id", F.col("avg_logp").alias("uni_logp")
    )
    bi = lm_score_bigram(docs).select(
        "doc_id", "n_bigrams", F.col("avg_logp").alias("bi_logp")
    )
    return bi.join(uni, "doc_id").select(
        "doc_id",
        "n_bigrams",
        "uni_logp",
        "bi_logp",
        rnd(F.col("bi_logp") - F.col("uni_logp"), 4).alias("context_gain"),
    )


def _diverse_sample_oracle() -> str:
    d2f = lambda a, b: _sql_d2(DIMS, a, b)  # noqa: E731
    from .ivfpq import _sql_fp

    return f"""
    WITH fullv AS (SELECT vec_id, 0 AS m, embedding AS vs FROM embeddings),
    {_kmeans_oracle_ctes('c_', 'fullv', COARSE_K, DIMS, TRAIN_SAMPLE)},
    cells AS (
      SELECT s.vec_id,
             CAST(min({_sql_fp(d2f('s.vs', 'c.cs'))} * {COARSE_K} + c.code)
                  % {COARSE_K} AS BIGINT) AS cell
      FROM fullv s JOIN c_cb c ON c.m = s.m
      GROUP BY s.vec_id
    ),
    sized AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS n_members FROM cells
      GROUP BY cell
    ),
    ranked AS (
      SELECT cl.cell, cl.vec_id,
             {d2f('e.embedding', 'cb.cs')} AS d2,
             row_number() OVER (PARTITION BY cl.cell
               ORDER BY {d2f('e.embedding', 'cb.cs')} ASC,
                        cl.vec_id ASC) AS rn
      FROM cells cl
      JOIN embeddings e ON e.vec_id = cl.vec_id
      JOIN c_cb cb ON cb.code = cl.cell
    )
    SELECT r.cell, r.rn AS rank, r.vec_id, s.n_members,
           floor(r.d2 * 1000000 + 0.5) / 1000000 AS center_d2
    FROM ranked r JOIN sized s ON s.cell = r.cell
    WHERE r.rn <= {DIVERSE_PER_CELL}
    """


@query("q_diverse_sample", oracle=_diverse_sample_oracle())
def q_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity quota sample over the trained coarse cells: per
    cell, its population and its DIVERSE_PER_CELL most central
    members by exact L2 to the trained centroid (module docstring
    has the why-per-cell argument; training is TRAIN_SAMPLE-bounded
    exactly as in q_knn_ivfpq)."""
    emb = load(spark, sf_dir, "embeddings")
    fullv = emb.select(
        "vec_id", F.lit(0).alias("m"), F.col("embedding").alias("vs")
    )
    cb = train_codebook(fullv, COARSE_K, TRAIN_SAMPLE)
    cells = _assign(fullv, cb, COARSE_K).select(
        "vec_id", F.col("code").alias("cell")
    )
    sized = cells.groupBy("cell").agg(F.count("*").alias("n_members"))
    dists = (
        cells.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(
            F.broadcast(cb.select(F.col("code").alias("cell"), "cs")),
            "cell",
        )
        .withColumn("d2", _d2(F.col("embedding"), F.col("cs")))
    )
    ranked = top_k(dists, DIVERSE_PER_CELL, [F.asc("d2"), F.asc("vec_id")], by=["cell"])
    return ranked.join(F.broadcast(sized), "cell").select(
        "cell",
        "rank",
        "vec_id",
        "n_members",
        rnd(F.col("d2"), 6).alias("center_d2"),
    )
