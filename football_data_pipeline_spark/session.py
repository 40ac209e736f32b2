"""SparkSession bootstrap with scale-conscious defaults.

Local tests run on ``local[N]``; production target is a multi-executor
cluster, so every default here is chosen to also make sense at scale:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
UTC session time zone (oracle parity + sane cross-cluster semantics),
Arrow enabled for the few Pandas-UDF code paths.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: the driver heap never defaults above this (the old fixed default)
DRIVER_MEM_CAP = "8g"


def driver_memory(meminfo: str) -> str:
    """The default ``spark.driver.memory`` for a box whose
    ``/proc/meminfo`` text is ``meminfo``: a quarter of MemTotal in
    whole MiB, capped at DRIVER_MEM_CAP; the cap when MemTotal is
    missing. A fixed 8g let a test-suite JVM grow to 6.4 GB RSS on a
    16 GB box and starve a second Spark process beside it."""
    m = re.search(r"^MemTotal:\s+(\d+) kB", meminfo, re.MULTILINE)
    if m is None:
        return DRIVER_MEM_CAP
    mib = int(m.group(1)) // 1024 // 4
    return f"{mib}m" if mib < 8 * 1024 else DRIVER_MEM_CAP


def _default_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            return driver_memory(f.read())
    except OSError:
        return DRIVER_MEM_CAP


def get_spark(
    app_name: str = "football_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — the
    single most important local-mode knob (the 200 default both
    over-parallelizes tiny data and under-parallelizes 100 TB; on a
    real cluster AQE coalescing makes the initial number less
    critical, but we still seed it sensibly).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime-tune a session we did not create (the driver's).

    Only touches runtime-settable confs. UTC is required so collected
    timestamps line up with DuckDB's UTC-naive timestamps; AQE is a
    pure win at every scale.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # seed the base shuffle width like get_spark does — but ONLY when
    # the session still carries Spark's untouched 200 default: a
    # driver-built session at that default ran whole 200-task reduce
    # stages on tiny per-query data (exchange reuse survives AQE
    # coalescing). An explicit setting must never be clobbered:
    # builder-time .config(...) values land in the SparkConf, so any
    # value present there (including an explicit 200) is respected.
    # Residual edge: a RUNTIME spark.conf.set(..., "200") before the
    # first query is indistinguishable from the default — such a
    # session should pre-set any other width or re-set it after.
    explicitly_set = (
        "spark.sql.shuffle.partitions"
        in dict(spark.sparkContext.getConf().getAll())
    )
    if (
        not explicitly_set
        and spark.conf.get("spark.sql.shuffle.partitions", "200") == "200"
    ):
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    # events.parquet carries TIMESTAMP(NANOS); set once here (not per
    # read) so the interpretation is stable for the whole session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
