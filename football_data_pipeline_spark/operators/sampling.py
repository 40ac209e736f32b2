"""Deterministic sampling — training-mix construction.

A training-data pipeline samples constantly: per-source mixing
weights, heldout splits, debug subsets. Random sampling
(``df.sample``/``rand()``) is nondeterministic across retries and
partitionings — poison for reproducible corpus builds. The
scale-correct form is HASH sampling: a row is kept iff a stable hash
of its id falls under the rate threshold. Properties that matter:

- reproducible: same (salt, id) → same verdict on any engine, any
  cluster size, any retry — a re-run of a failed stage cannot change
  the corpus;
- composable: different salts give independent samples, so a heldout
  split (salt A) and a mixing pass (salt B) don't correlate;
- pushdown-friendly: the predicate is a pure projection — no
  shuffle, no state, evaluated inside the scan's codegen stage.

``md5`` (not Spark's murmur ``hash()``) keeps the verdict
engine-portable — the DuckDB oracle reproduces it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query

#: sampling resolution: rates are expressed in basis points (1/10000)
#: and compared as integers — no float threshold boundaries
RESOLUTION = 10000

#: per-language mixing rates (basis points) for the demo mix —
#: the shape of a real pretraining source-weighting table
MIX_RATES = {"en": 5000, "de": 2500, "fr": 1500, "es": 1000}
DEFAULT_RATE = 500
MIX_SALT = "mix-v1"


def sample_bucket(
    id_col: Column, salt: str, resolution: int = RESOLUTION
) -> Column:
    """Stable bucket in [0, resolution): first 8 md5 hex digits of
    ``salt || ':' || id``, mod resolution (defaults to the
    basis-point RESOLUTION; other moduli serve feature-hash maps
    like selection.py's DSIR buckets)."""
    h = F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string")))
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(resolution))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates_bp: dict[str, int],
    default_bp: int,
    salt: str,
) -> DataFrame:
    """Per-stratum rates — the mixing-weights pass. The rate lookup
    is a CASE projection (strata are few by construction); the keep
    verdict stays a scan-stage predicate."""
    rate = F.lit(default_bp)
    for k, v in rates_bp.items():
        rate = F.when(F.col(stratum_col) == k, v).otherwise(rate)
    return df.filter(sample_bucket(F.col(id_col), salt) < rate)


def _bucket_sql(id_expr: str, salt: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}:' || CAST({id_expr} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {RESOLUTION}"
    )


def _mix_oracle() -> str:
    rate_case = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in MIX_RATES.items()
    ) + f" ELSE {DEFAULT_RATE} END"
    return f"""
    WITH sampled AS (
      SELECT doc_id, lang, source
      FROM documents
      WHERE {_bucket_sql('doc_id', MIX_SALT)} < {rate_case}
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM sampled GROUP BY lang
    """


@query("q_stratified_sample", oracle=_mix_oracle())
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language mixing sample over documents,
    summarized per stratum (count + id range, so the hash pins the
    exact membership boundary, not just the rate)."""
    docs = load(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs.select("doc_id", "lang", "source"),
        id_col="doc_id",
        stratum_col="lang",
        rates_bp=MIX_RATES,
        default_bp=DEFAULT_RATE,
        salt=MIX_SALT,
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "q_holdout_split",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN {_bucket_sql('doc_id', 'holdout-v1')} < 1000
                  THEN 'holdout' ELSE 'train' END AS split
      FROM documents
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM tagged GROUP BY split
    """,
)
def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout split as a pure id-hash projection (10% holdout,
    salt-isolated from the mixing pass) — every engine, retry, and
    cluster size assigns identical membership."""
    docs = load(spark, sf_dir, "documents")
    split = F.when(
        sample_bucket(F.col("doc_id"), "holdout-v1") < 1000, F.lit("holdout")
    ).otherwise(F.lit("train"))
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


QUALITY_SALT = "qsample-v1"


@query(
    "q_quality_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang,
             floor(((least(len(words) * 1.0 / 100, 1.0)) * 0.5
                   + (len(list_distinct(words)) * 1.0 / len(words)) * 0.3
                   + (least((list_sum(list_transform(words, x -> length(x)))
                             * 1.0 / len(words)) / 10, 1.0)) * 0.2)
                   * 10000 + 0.5) / 10000 AS quality_score
      FROM w WHERE len(words) > 0
    ),
    tagged AS (
      SELECT *,
             CASE WHEN {_bucket_sql('doc_id', QUALITY_SALT)}
                       < CAST(floor(quality_score * {RESOLUTION}) AS BIGINT)
                  THEN 1 ELSE 0 END AS kept
      FROM q
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           floor((sum(kept) * 1.0 / count(*)) * 10000 + 0.5) / 10000 AS keep_frac,
           floor((CAST(sum(CASE WHEN kept = 1
                           THEN CAST(quality_score AS DECIMAL(28,4)) END) AS DOUBLE)
                  / sum(kept)) * 10000 + 0.5) / 10000 AS kept_avg_quality
    FROM tagged GROUP BY lang
    """,
)
def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted subsampling (soft filtering): each document's
    keep PROBABILITY equals its quality score, decided
    deterministically by id hash — the standard alternative to a
    hard quality cutoff, preserving some low-quality mass while
    biasing the corpus toward quality. Summarized per lang: kept
    count/fraction and the kept documents' mean quality (which must
    exceed the population mean — the bias the sampler exists to
    create).

    Pure projection verdicts (hash + score, no shuffle) plus one
    rollup; reproducible on any engine, retry, or cluster size.
    """
    docs = load(spark, sf_dir, "documents")
    words = F.array_remove(F.split("text", " "), "")
    w = docs.select("doc_id", "lang", words.alias("words")).filter(F.size("words") > 0)
    n_words = F.size("words")
    n_distinct = F.size(F.array_distinct("words"))
    twc = F.aggregate(
        F.transform("words", lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    from ..functions.stable import rnd

    quality = rnd(
        F.least(n_words * 1.0 / 100, F.lit(1.0)) * 0.5
        + (n_distinct * 1.0 / n_words) * 0.3
        + F.least((twc * 1.0 / n_words) / 10, F.lit(1.0)) * 0.2,
        4,
    )
    kept = (
        sample_bucket(F.col("doc_id"), QUALITY_SALT)
        < F.floor(F.col("quality_score") * RESOLUTION).cast("long")
    ).cast("int")
    tagged = w.select("doc_id", "lang", quality.alias("quality_score")).withColumn(
        "kept", kept
    )
    return tagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        rnd(F.sum("kept") * 1.0 / F.count("*"), 4).alias("keep_frac"),
        rnd(
            F.sum(
                F.when(F.col("kept") == 1, F.col("quality_score")).cast(
                    "decimal(28,4)"
                )
            ).cast("double")
            / F.sum("kept"),
            4,
        ).alias("kept_avg_quality"),
    )
