"""Window operators (SURVEY.md §2.7) — latest-per-key, LAG movement,
first-vs-last change.

These are the reference's most load-bearing analytic patterns:
- W1/J3 latest snapshot per key — the reference's only view
  (/root/reference/database_schema.sql:161-166) and the nightly report
  (.github/workflows/football-data-pipeline.yml:853-857); the window
  is ``upsert.keep_latest`` (the ranking rule in ``functions/rank``);
- W2 LAG-based odds-movement detection
  (/root/reference/discord_integration.py:477-498, yml:868-886);
- W3 first-vs-last per-partition % change
  (/root/reference/streamlit_dashboard.py:369-394 — pandas iloc[0] vs
  iloc[-1] per bookmaker, re-expressed as a single window pass).

Scale notes: all three are single-shuffle window operators partitioned
by the natural entity key. At 100 TB the partition column set (here
``user_id``/``(user_id, event_type)``) is high-cardinality, so the
shuffle is well spread; no global sort is ever required, and AQE
handles residual skew. A deterministic tie-break column is always
threaded through ``orderBy`` so results are stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.stable import rnd
from ..registry import query
from .upsert import keep_latest


def pct_change(cur: Column, prev: Column) -> Column:
    """(cur − prev) / prev × 100, NULL-safe on prev == 0 / NULL."""
    return F.when(prev.isNotNull() & (prev != 0), (cur - prev) / prev * 100.0)


@query(
    "q_latest_per_key",
    oracle="""
    WITH latest AS (
      SELECT e.*,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events e
    )
    SELECT l.user_id,
           c.c_name AS user_name,
           l.event_type AS latest_event_type,
           floor(l.value * 100 + 0.5) / 100 AS latest_value,
           l.ts AS latest_ts
    FROM latest l
    LEFT JOIN customer c ON l.user_id = c.c_custkey
    WHERE l.rn = 1
    """,
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: latest event per user, left-joined to the user dim.

    Mirrors the reference's ``upcoming_games_with_odds`` view — latest
    h2h odds snapshot per fixture left-joined onto the fixture/teams
    star (/root/reference/database_schema.sql:144-169). events ≈
    odds_history (user_id ≈ fixture_id, ts ≈ collected_at), customer ≈
    the dim side. The dim join is broadcast — at 100 TB the fact side
    never shuffles for the join, only for the window.
    """
    events = load(spark, sf_dir, "events")
    customer = load(spark, sf_dir, "customer")
    latest = keep_latest(events, ["user_id"], ["ts", "event_id"])
    return (
        latest.join(F.broadcast(customer), latest.user_id == customer.c_custkey, "left")
        .select(
            "user_id",
            F.col("c_name").alias("user_name"),
            F.col("event_type").alias("latest_event_type"),
            rnd(F.col("value")).alias("latest_value"),
            F.col("ts").alias("latest_ts"),
        )
    )


@query(
    "q_lag_movement",
    oracle="""
    WITH with_prev AS (
      SELECT user_id, event_type, ts, value,
             lag(value) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS prev_value
      FROM events
    )
    SELECT user_id, event_type, ts,
           floor(value * 100 + 0.5) / 100 AS value,
           floor(prev_value * 100 + 0.5) / 100 AS prev_value,
           floor(((value - prev_value) / prev_value * 100.0) * 100 + 0.5) / 100 AS pct_change
    FROM with_prev
    WHERE prev_value IS NOT NULL AND prev_value <> 0
      AND abs((value - prev_value) / prev_value) > 0.10
    """,
)
def q_lag_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: consecutive-snapshot delta with >10% movement filter.

    Mirrors the odds-movement alert: ``LAG(home_odds) OVER (PARTITION
    BY fixture_id, market_type, bookmaker ORDER BY collected_at)`` then
    ``ABS(cur−prev)/prev > 0.1``
    (/root/reference/discord_integration.py:477-498). One shuffle on
    the series key; the >10% filter runs post-window, fully codegen'd.
    """
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return (
        events.withColumn("prev_value", prev)
        .filter(F.col("prev_value").isNotNull() & (F.col("prev_value") != 0))
        .filter(F.abs((F.col("value") - F.col("prev_value")) / F.col("prev_value")) > 0.10)
        .select(
            "user_id",
            "event_type",
            "ts",
            rnd(F.col("value")).alias("value"),
            rnd(F.col("prev_value")).alias("prev_value"),
            rnd(pct_change(F.col("value"), F.col("prev_value"))).alias("pct_change"),
        )
    )


@query(
    "q_first_last_change",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_asc,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_desc
      FROM events
    ),
    fl AS (
      SELECT user_id, event_type,
             max(CASE WHEN rn_asc = 1 THEN value END) AS first_value,
             max(CASE WHEN rn_desc = 1 THEN value END) AS last_value,
             count(*) AS n_snapshots
      FROM ordered GROUP BY user_id, event_type
    )
    SELECT user_id, event_type, n_snapshots,
           floor(first_value * 100 + 0.5) / 100 AS first_value,
           floor(last_value * 100 + 0.5) / 100 AS last_value,
           floor(((last_value - first_value) / first_value * 100.0) * 100 + 0.5) / 100 AS pct_change
    FROM fl
    WHERE first_value <> 0
      AND abs((last_value - first_value) / first_value) > 0.05
    """,
)
def q_first_last_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: first-vs-last value per series with >5% change alert.

    Replaces the reference's driver-side pandas loop (iloc[0] vs
    iloc[-1] per bookmaker, alert if >5%,
    /root/reference/streamlit_dashboard.py:369-394) with one
    distributed aggregation: min_by/max_by over a deterministic
    (ts, event_id) ordering key — a single hash aggregate, no window
    sort needed, so it scales as a plain groupBy.
    """
    events = load(spark, sf_dir, "events")
    # struct ordering gives a total, deterministic order on (ts, event_id)
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    fl = events.groupBy("user_id", "event_type").agg(
        F.min_by("value", ordkey).alias("first_value"),
        F.max_by("value", ordkey).alias("last_value"),
        F.count("*").alias("n_snapshots"),
    )
    return (
        fl.filter(F.col("first_value") != 0)
        .filter(F.abs((F.col("last_value") - F.col("first_value")) / F.col("first_value")) > 0.05)
        .select(
            "user_id",
            "event_type",
            "n_snapshots",
            rnd(F.col("first_value")).alias("first_value"),
            rnd(F.col("last_value")).alias("last_value"),
            rnd(pct_change(F.col("last_value"), F.col("first_value"))).alias("pct_change"),
        )
    )


# --- SCD2 validity intervals (the historical twin of U1) ---


def scd2_history(
    changelog: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Rebuild slowly-changing-dimension (type 2) validity intervals
    from an append-only changelog: each change row becomes effective
    at its own instant and expires at the key's NEXT change
    (``valid_to`` NULL + ``is_current`` true on the newest row).

    The reference's upsert tables (INSERT OR REPLACE,
    database_integration.py) keep only the latest state — W1 answers
    "what is it now". SCD2 is the same window flipped to LEAD,
    answering "what was in effect at time t" — the shape that makes
    the as-of join (q_asof_join) a plain interval containment and
    the warehouse-history pattern every 100 TB fact pipeline keeps.

    One shuffle on the key set, one WindowExec, zero joins.

    Rows with a NULL ``order_col`` are dropped before windowing: a
    change with no effective instant cannot define an interval, and
    the engines disagree on where NULLs sort (Spark NULLS FIRST
    ascending, DuckDB NULLS LAST) — the same divergence class the
    as-of join filters out (timeseries.py).
    """
    w = Window.partitionBy(*keys).orderBy(order_col, tiebreak)
    changelog = changelog.filter(F.col(order_col).isNotNull())
    return changelog.select(
        *keys,
        F.col(tiebreak),
        *carry,
        F.col(order_col).alias("valid_from"),
        F.lead(order_col).over(w).alias("valid_to"),
        F.lead(order_col).over(w).isNull().alias("is_current"),
    )


@query(
    "q_scd2_history",
    oracle="""
    SELECT user_id, event_id, value,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           lead(ts) OVER w IS NULL AS is_current
    FROM events
    WHERE event_type = 'purchase' AND ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 intervals over the purchase stream (user_id ≈ dimension
    key, value ≈ the tracked attribute): every snapshot carries the
    window in which it was the key's current state. See
    :func:`scd2_history` for semantics and the one-window plan."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return scd2_history(ev, ["user_id"], "ts", "event_id", carry=("value",))
