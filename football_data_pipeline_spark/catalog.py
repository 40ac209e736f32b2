"""Loaders for the driver's synthetic star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an ``sf_dir``.

Parquet scans are the engine's default source (columnar, predicate
pushdown + column pruning via Catalyst). ``load`` intentionally does
NOT cache or collect — callers compose lazily so pruning reaches the
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which the Spark
        # parquet reader rejects (PARQUET_TYPE_ILLEGAL). The session
        # is configured (session.py — both get_spark and
        # configure_for_oracle) with nanosAsLong=true so nanos arrive
        # as long; rebuild the timestamp at µs precision — integer
        # DIV, since ns-since-epoch exceeds double precision, and
        # truncation matches DuckDB's ns→µs handling. The conf is NOT
        # set here: mutating session state per read could flip how
        # unrelated concurrent reads in the same session interpret
        # nanos timestamps.
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif dt == "timestamp_ntz":
            # some reader configurations surface the nanos column as
            # TIMESTAMP_NTZ instead. Normalize to TIMESTAMP (LTZ):
            # event-time streaming (watermarks) REQUIRES it, and with
            # the session pinned to UTC (session.py/configure_for_
            # oracle) the wall-clock values are identical.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

