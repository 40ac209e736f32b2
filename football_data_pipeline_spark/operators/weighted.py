"""Weighted reservoir sampling (Efraimidis-Spirakis A-ES): a
deterministic, engine-portable weighted top-k per stratum — the
missing third of the sampling family (stratified_sample draws uniformly,
temperature_rates rescales strata; this draws WITHIN a stratum
proportionally to a per-document weight, e.g. quality score or
length, which is how curation teams spend a fixed token budget on
the best documents).

A-ES: each row draws u ~ U(0,1] and is ranked by u^(1/w); the top-k
by that key is a weighted-without-replacement sample (Efraimidis &
Spirakis 2006). This implementation replaces rand() with the
engine's md5 hash-uniform (sampling.sample_bucket — same salt
discipline, same reproducibility contract: retries, partitionings
and engines all agree) and ranks by the monotone-equivalent
ln(u)/w, rounded to a 1e-9 grid through the stable ``rnd`` so a
last-ulp ln() difference between engines cannot reorder two keys;
exact grid ties break on doc id.

Scale shape — the two-phase top-k: a single
``row_number() OVER (PARTITION BY stratum)`` shuffles EVERY row to
its stratum's reducer (a handful of language partitions at 100 TB =
catastrophic skew). Phase 1 ranks within (stratum, cell) — cell a
hash split of ids, so state per task is bounded at k — and keeps
each cell's local top-k; phase 2 ranks the surviving cells·k rows
per stratum exactly. Identical to the single-window result by the
tournament argument (every global top-k row is in its own cell's
top-k), proven row-identical in tests/test_weighted.py.

10x probe (sf0.1 documents replicated 10x; medians of 3):
0.45 -> 0.59 s - sub-linear (phase-2 input is cells*k per stratum,
constant in corpus size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.rank import top_k
from ..functions.stable import rnd
from ..registry import query
from .sampling import RESOLUTION, _bucket_sql, sample_bucket
from .skew import hash_bucket

AES_SALT = "aes-v1"
AES_K = 40
#: phase-1 split width: survivors per stratum = AES_CELLS * k, the
#: bounded input of the exact phase-2 rank. Scale with executor
#: count, not data size (it only needs to break stratum skew).
AES_CELLS = 32


def aes_key(id_col: Column, weight_col: Column, salt: str = AES_SALT) -> Column:
    """The A-ES rank key ln(u)/w on the stable 1e-9 grid; u drawn
    from the md5 bucket as (bucket+1)/RESOLUTION in (0, 1]."""
    u = (sample_bucket(id_col, salt) + 1) / F.lit(float(RESOLUTION))
    return rnd(F.log(u) / weight_col, 9)


def weighted_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    stratum_col: str,
    k: int = AES_K,
    salt: str = AES_SALT,
    cells: int = AES_CELLS,
) -> DataFrame:
    """Per-stratum weighted sample of k rows (all rows if the stratum
    has fewer), with a ``rank`` column (1 = highest key). Weights
    must be positive; the two-phase plan is row-identical to the
    naive single window."""
    keyed = df.withColumn(
        "__key", aes_key(F.col(id_col), F.col(weight_col), salt)
    ).withColumn("__cell", hash_bucket(F.col(id_col), cells))
    order = [F.desc("__key"), F.asc(id_col)]
    survivors = top_k(keyed, k, order, by=[stratum_col, "__cell"]).drop("rank", "__cell")
    return top_k(survivors, k, order, by=[stratum_col]).drop("__key")


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             floor((ln(({_bucket_sql('doc_id', AES_SALT)} + 1)
                       / {float(RESOLUTION)}) / n_chars)
                   * 1000000000 + 0.5) / 1000000000 AS key
      FROM documents
    ),
    ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang ORDER BY key DESC, doc_id ASC
             ) AS rank
      FROM keyed
    )
    SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
    FROM ranked WHERE rank <= {AES_K}
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted A-ES sample: per language, 40 documents drawn
    with probability proportional to n_chars — the "spend the token
    budget on substantial documents" draw — through the two-phase
    skew-proof plan, oracle-checked against the naive single-window
    form (the oracle IS the one-window query, so the driver row
    doubles as the two-phase == one-phase equivalence proof at
    corpus scale).
    """
    docs = load(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    out = weighted_topk(docs, "doc_id", "n_chars", "lang")
    return out.select(
        "lang", F.col("rank").cast("long").alias("rank"), "doc_id", "n_chars"
    )
