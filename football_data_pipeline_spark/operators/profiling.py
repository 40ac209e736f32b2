"""Data profiling — the pre-ingestion QA pass a training-data
pipeline runs before anything else: per-column completeness and
cardinality, plus distribution quantiles of document length.

No reference counterpart (the reference's validate_data.py row-count
ranges are the small-data cousin, /root/reference/validate_data.py:
20-73); this generalizes that idea to column-level stats computed
in ONE pass.

Scale notes: the profile is a single aggregate over the table — all
per-column counters ride one scan; the only physically heavy part is
the exact COUNT(DISTINCT) set, which Catalyst plans via Expand (one
shuffle per distinct column family). At 100 TB you would swap
``countDistinct`` for ``approx_count_distinct`` (documented knob, not
default — the oracle checks the exact form). Quantiles use Spark's
exact ``percentile`` to match DuckDB's ``quantile_cont``
(both linear-interpolated) — the approx_percentile sketch is the
scale variant, with the same signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.rank import top_k
from ..functions.stable import oracle_rnd, rnd
from ..registry import query

PROFILE_COLS = ("doc_id", "lang", "source", "text")


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per profiled column: non-null count, exact distinct
    count, lexicographic min/max (string-cast so heterogeneous
    column types stack into one long-format result)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(F.col(c).cast("string")).alias(f"__mn_{c}"),
            F.max(F.col(c).cast("string")).alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols
    )
    return row.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, {stacked}) AS "
        "(column_name, n_non_null, n_distinct, min_value, max_value)",
    ).select("column_name", "n_rows", "n_non_null", "n_distinct", "min_value", "max_value")


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               count(*) AS n_rows,
               count({c}) AS n_non_null,
               count(DISTINCT {c}) AS n_distinct,
               min(CAST({c} AS VARCHAR)) AS min_value,
               max(CAST({c} AS VARCHAR)) AS max_value
        FROM documents
        """
        for c in PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@query("q_profile_documents", oracle=_profile_oracle())
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the documents table — completeness,
    cardinality, and value range per column, one scan."""
    return profile_table(load(spark, sf_dir, "documents"), list(PROFILE_COLS))


@query(
    "q_length_quantiles",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(min(length(text)) AS BIGINT) AS min_len,
           {oracle_rnd('quantile_cont(length(text), 0.5)')} AS p50_len,
           {oracle_rnd('quantile_cont(length(text), 0.9)')} AS p90_len,
           {oracle_rnd('quantile_cont(length(text), 0.99)')} AS p99_len,
           CAST(max(length(text)) AS BIGINT) AS max_len
    FROM documents
    GROUP BY lang
    """,
)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per language: exact interpolated
    percentiles (p50/p90/p99) — the filter-threshold-picking query of
    every corpus-cleaning pipeline. Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the linear-interpolation definition, so
    the hash checks the quantile algorithm itself.
    """
    docs = load(spark, sf_dir, "documents")
    ln = F.length("text")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min(ln).cast("long").alias("min_len"),
        rnd(F.percentile(ln, F.lit(0.5))).alias("p50_len"),
        rnd(F.percentile(ln, F.lit(0.9))).alias("p90_len"),
        rnd(F.percentile(ln, F.lit(0.99))).alias("p99_len"),
        F.max(ln).cast("long").alias("max_len"),
    )


#: adaptive length-filter percentile band (per language)
FILTER_LO_P = 0.05
FILTER_HI_P = 0.95


@query(
    "q_length_filter",
    oracle=f"""
    WITH cuts AS (
      SELECT lang,
             {oracle_rnd(f'quantile_cont(length(text), {FILTER_LO_P})')} AS lo,
             {oracle_rnd(f'quantile_cont(length(text), {FILTER_HI_P})')} AS hi
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           CAST(length(d.text) AS BIGINT) AS doc_len,
           c.lo, c.hi,
           CASE WHEN length(d.text) < c.lo THEN 'short' ELSE 'long' END AS side
    FROM documents d JOIN cuts c ON d.lang = c.lang
    WHERE length(d.text) < c.lo OR length(d.text) > c.hi
    """,
)
def q_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-language length filter: documents outside their
    OWN language's [p05, p95] length band, with the band and which
    side they fell off — fixed global cutoffs mis-filter languages
    with different length distributions, so the cut adapts per lang.

    Scale shape: one exact-percentile aggregate per lang (the
    approx_percentile sketch is the 100 TB knob, same signature) →
    a #langs-row cutoff table broadcast back onto the scan; the
    filter itself is codegen'd, no second shuffle.
    """
    docs = load(spark, sf_dir, "documents")
    ln = F.length("text")
    cuts = docs.groupBy("lang").agg(
        rnd(F.percentile(ln, F.lit(FILTER_LO_P))).alias("lo"),
        rnd(F.percentile(ln, F.lit(FILTER_HI_P))).alias("hi"),
    )
    return (
        docs.join(F.broadcast(cuts), "lang")
        .withColumn("doc_len", ln.cast("long"))
        .filter((F.col("doc_len") < F.col("lo")) | (F.col("doc_len") > F.col("hi")))
        .select(
            "doc_id",
            "lang",
            "doc_len",
            "lo",
            "hi",
            F.when(F.col("doc_len") < F.col("lo"), "short")
            .otherwise("long")
            .alias("side"),
        )
    )


SKEW_TOP_K = 10


def key_skew_profile(df: DataFrame, key_col: str, k: int = SKEW_TOP_K) -> DataFrame:
    """Join/aggregation-key skew diagnostic: the k heaviest keys with
    their row share and skew ratio (rows vs the uniform per-key
    expectation) — the report that decides whether a key needs
    salting or AQE skew-join handling before a 100 TB run.

    One count aggregate keyed on ``key_col``, a 1-row global
    cross-joined back (broadcast no-op), and a TakeOrderedAndProject
    top-k. Nothing key-level survives beyond the top-k cut.
    """
    counts = df.groupBy(F.col(key_col).alias("key_value")).agg(
        F.count("*").alias("n_rows")
    )
    globals_ = counts.agg(
        F.sum("n_rows").alias("total_rows"), F.count("*").alias("n_keys")
    )
    return (
        top_k(counts, k, [F.desc("n_rows"), F.asc("key_value")])
        .crossJoin(F.broadcast(globals_))
        .select(
            "rank",
            F.col("key_value").cast("string").alias("key_value"),
            "n_rows",
            "total_rows",
            "n_keys",
            rnd(F.col("n_rows") * 100.0 / F.col("total_rows"), 4).alias("share_pct"),
            rnd(
                F.col("n_rows") * F.col("n_keys") / F.col("total_rows"), 4
            ).alias("skew_ratio"),
        )
    )


@query(
    "q_skew_report",
    oracle=f"""
    WITH counts AS (
      SELECT o_custkey AS key_value, count(*) AS n_rows FROM orders GROUP BY o_custkey
    ),
    g AS (
      SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM counts
    ),
    ranked AS (
      SELECT c.*, g.total_rows, g.n_keys,
             row_number() OVER (ORDER BY c.n_rows DESC, c.key_value ASC) AS rank
      FROM counts c CROSS JOIN g
    )
    SELECT rank, CAST(key_value AS VARCHAR) AS key_value, n_rows,
           total_rows, n_keys,
           {oracle_rnd('n_rows * 100.0 / total_rows', 4)} AS share_pct,
           {oracle_rnd('n_rows * n_keys / total_rows', 4)} AS skew_ratio
    FROM ranked WHERE rank <= {SKEW_TOP_K}
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic over orders.o_custkey (the star schema's
    natural hot-key candidate): the 10 heaviest customers with row
    share and skew ratio vs uniform."""
    return key_skew_profile(load(spark, sf_dir, "orders"), "o_custkey")
