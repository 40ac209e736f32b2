"""Time-series operators (SURVEY.md §2.6 A9-A11, §2.5 J5, §2.10 T2/T3).

The reference's odds time series (`odds_history`) drives these
shapes; `events` is the stand-in series (user_id ≈ fixture_id,
ts ≈ collected_at, value ≈ odds — FIXTURES.md §C).

Scale notes: every operator here is either a single hash aggregate
with map-side partial combine, or an equi-key join whose range
predicate rides along as a post-join filter (never a cross product).
The deterministic "now" anchor (max timestamp) is computed as a tiny
1-row aggregate and broadcast — no driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.stable import davg, dsum, oracle_davg, oracle_dsum, oracle_rnd, rnd
from ..registry import query

CUTOFF = "2024-01-15 00:00:00"


@query(
    "q_before_after",
    oracle=f"""
    WITH halves AS (
      SELECT event_type,
             count(CASE WHEN ts <  TIMESTAMP '{CUTOFF}' THEN 1 END) AS n_before,
             count(CASE WHEN ts >= TIMESTAMP '{CUTOFF}' THEN 1 END) AS n_after,
             {oracle_davg(f"CASE WHEN ts <  TIMESTAMP '{CUTOFF}' THEN value END")} AS avg_before,
             {oracle_davg(f"CASE WHEN ts >= TIMESTAMP '{CUTOFF}' THEN value END")} AS avg_after
      FROM events
      GROUP BY event_type
    )
    SELECT event_type, n_before, n_after, avg_before, avg_after,
           floor(((avg_after - avg_before) / avg_before * 100.0) * 100 + 0.5) / 100 AS pct_change
    FROM halves
    WHERE avg_before IS NOT NULL AND avg_before <> 0
    """,
)
def q_before_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: mean value before vs after an event instant, % change.

    Mirrors the news-impact analysis — two filtered means around a
    team-news timestamp, then % change
    (/root/reference/streamlit_dashboard.py:599-622). One hash
    aggregate with conditional branches instead of two table scans.
    """
    events = load(spark, sf_dir, "events")
    cutoff = F.lit(CUTOFF).cast("timestamp")
    halves = events.groupBy("event_type").agg(
        F.count(F.when(F.col("ts") < cutoff, 1)).alias("n_before"),
        F.count(F.when(F.col("ts") >= cutoff, 1)).alias("n_after"),
        davg(F.when(F.col("ts") < cutoff, F.col("value"))).alias("avg_before"),
        davg(F.when(F.col("ts") >= cutoff, F.col("value"))).alias("avg_after"),
    )
    return (
        halves.filter(F.col("avg_before").isNotNull() & (F.col("avg_before") != 0))
        .withColumn(
            "pct_change",
            rnd((F.col("avg_after") - F.col("avg_before")) / F.col("avg_before") * 100.0),
        )
    )


@query(
    "q_range_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           count(*) AS n_shipments,
           {oracle_dsum('l.l_extendedprice')} AS shipped_value
    FROM orders o
    JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate BETWEEN o.o_orderdate - INTERVAL 3 DAY
                          AND o.o_orderdate + INTERVAL 7 DAY
    GROUP BY o.o_orderpriority
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: equi-key join with a [-3d, +7d] interval predicate.

    Mirrors "odds snapshots for fixtures whose kickoff is within
    [event −3d, event +7d]" (/root/reference/streamlit_dashboard.py:
    584-594, database_integration.py:409-415). The reference's range
    rides on the fixture equi-key; here likewise the range predicate
    is applied after an equi shuffle join on the order key, so the
    plan is a plain sort-merge/shuffled-hash join + filter, never a
    BroadcastNestedLoopJoin — at 100 TB a pure interval join would
    instead need range-bucketing (see docs/SCALE.md).
    """
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    cond = (
        (lineitem.l_orderkey == orders.o_orderkey)
        & (lineitem.l_shipdate >= orders.o_orderdate - F.expr("INTERVAL 3 DAYS"))
        & (lineitem.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 7 DAYS"))
    )
    return (
        orders.join(lineitem, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_shipments"),
            dsum("l_extendedprice").alias("shipped_value"),
        )
    )


@query(
    "q_weighted_sum",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 3
                         WHEN event_type = 'signup' THEN 2
                         ELSE 1 END) AS BIGINT) AS est_api_calls
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    """,
)
def q_weighted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: weighted count by category — the API-budget estimator.

    Mirrors the per-job-type API-call cost model (final_data = 3
    calls, others 1; .github/workflows/football-data-pipeline.yml:
    958-978).
    """
    events = load(spark, sf_dir, "events")
    weight = (
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "signup", 2)
        .otherwise(1)
    )
    return events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("event_date")).agg(
        F.count("*").alias("n_events"),
        F.sum(weight).alias("est_api_calls"),
    )


@query(
    "q_kpi_ratio",
    oracle="""
    SELECT l_suppkey,
           count(*) AS n_items,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
           floor((sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 100.0
                 / greatest(count(*), 1)) * 100 + 0.5) / 100 AS return_pct
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def q_kpi_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: write-time KPI — round(x / greatest(n, 1) * 100, 2).

    Mirrors ``win_percentage = round(wins/max(played,1)*100, 2)``
    (/root/reference/database_integration.py:253), including the
    divide-by-zero guard via ``greatest``.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    returned = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    return lineitem.groupBy("l_suppkey").agg(
        F.count("*").alias("n_items"),
        F.sum(returned).alias("n_returned"),
        rnd(F.sum(returned) * 100.0 / F.greatest(F.count("*"), F.lit(1))).alias(
            "return_pct"
        ),
    )


@query(
    "q_job_expiry",
    oracle="""
    WITH now_anchor AS (SELECT max(ts) AS now FROM events),
    statused AS (
      SELECT e.event_type,
             CASE WHEN e.ts < n.now - INTERVAL 45 MINUTE THEN 'expired'
                  WHEN e.ts <= n.now THEN 'pending'
                  ELSE 'scheduled' END AS status
      FROM events e CROSS JOIN now_anchor n
    )
    SELECT event_type, status, count(*) AS n_jobs
    FROM statused
    GROUP BY event_type, status
    """,
)
def q_job_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T3: event-time scheduling with the 45-minute late-data rule.

    Mirrors the job processor's expiry policy — jobs more than 45
    minutes past due are marked expired and dropped
    (.github/workflows/football-data-pipeline.yml:420-424), the batch
    analogue of a watermark. "now" is anchored to max(ts) so the
    result is deterministic; the anchor is a 1-row aggregate
    cross-joined (broadcast) onto the fact flow — no collect, no
    second scan dependency on wall clock.
    """
    events = load(spark, sf_dir, "events")
    now = events.agg(F.max("ts").alias("now"))
    statused = events.crossJoin(F.broadcast(now)).withColumn(
        "status",
        F.when(F.col("ts") < F.col("now") - F.expr("INTERVAL 45 MINUTES"), "expired")
        .when(F.col("ts") <= F.col("now"), "pending")
        .otherwise("scheduled"),
    )
    return statused.groupBy("event_type", "status").agg(F.count("*").alias("n_jobs"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """AS-OF join: for every left row, the single latest right row
    with ``right.ts <= left.ts`` within the same ``on`` key — the
    canonical time-series alignment operator (latest odds snapshot
    at each evaluation instant) that Spark has no built-in for.

    Spark-first shape — NOT a range join: tag both inputs, union, and
    run ONE window pass per key ordered by (ts, side) with a running
    ``last(right-row-struct, ignorenulls)``. Right rows sort before
    left rows at equal ts, giving inclusive <= semantics. Cost is a
    single shuffle on the key and a streaming frame — no pair
    explosion, no per-row probe, so it scales like the W1 keep-latest
    window (``rank.first_per_key``) rather than like J5's join+filter
    (whose matched-pair stream is |left| × |right-in-range| before
    filtering).

    The whole right ROW travels as one struct so a NULL payload field
    is carried faithfully (a last(value, ignorenulls) would skip
    genuinely-NULL right values — wrong under AS-OF semantics).
    Right should be unique per (key, ts) — dedupe first — or the
    winner among equal timestamps is unspecified, exactly as in
    DuckDB's ASOF JOIN.

    Returns the left columns plus ``asof_ts`` and ``asof_<c>`` for
    each payload column (NULL when no right row precedes).
    """
    from pyspark.sql import Window

    payload_cols = payload_cols or [c for c in right.columns if c not in (on, ts_col)]
    # a right row with NULL ts can never satisfy `r.ts <= l.ts` (the
    # documented DuckDB ASOF semantics) — but Spark sorts NULLs FIRST
    # ascending and the when() struct is non-null even for NULL ts,
    # so without this filter such a row would latch as the "latest"
    # match for every left row preceding the first real right row
    right = right.filter(F.col(ts_col).isNotNull())
    r = right.select(
        F.col(on),
        F.col(ts_col),
        *[F.col(c).alias(f"asof_{c}") for c in payload_cols],
    ).withColumn("__side", F.lit(0))
    l = left.withColumn("__side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    r_row = F.when(
        F.col("__side") == 0,
        F.struct(
            F.col(ts_col).alias("asof_ts"),
            *[F.col(f"asof_{c}") for c in payload_cols],
        ),
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("__r", F.last(r_row, ignorenulls=True).over(w))
    return (
        filled.filter(F.col("__side") == 1)
        .select(
            *left.columns,
            F.col("__r.asof_ts").alias("asof_ts"),
            *[F.col(f"__r.asof_{c}").alias(f"asof_{c}") for c in payload_cols],
        )
    )


@query(
    "q_asof_join",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ),
    c AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           floor(c.value * 100 + 0.5) / 100 AS click_value,
           p.ts AS asof_ts,
           floor(p.value * 100 + 0.5) / 100 AS asof_value
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of operator against DuckDB's native ASOF LEFT JOIN: for
    each click event, the latest at-or-before purchase value of the
    same user. Purchases are deduped to one row per (user, instant)
    first so tie-breaking is well-defined in both engines; clicks
    with no preceding purchase keep NULL asof columns (left
    semantics).
    """
    from .upsert import keep_latest

    events = load(spark, sf_dir, "events")
    purchases = keep_latest(
        events.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value", "event_id"),
        ["user_id", "ts"],
        ["event_id"],
    ).drop("event_id")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        rnd(F.col("value")).alias("click_value"),
    )
    joined = asof_join(
        clicks.withColumnRenamed("click_ts", "ts"),
        purchases,
        on="user_id",
        payload_cols=["value"],
    )
    return joined.select(
        "click_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        "click_value",
        "asof_ts",
        rnd(F.col("asof_value")).alias("asof_value"),
    )


# --- trailing time-range moving average (trend smoothing) ---

#: trailing window width for the moving average, seconds (24 h)
MOVAVG_WINDOW_S = 24 * 3600


@query(
    "q_moving_avg",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CAST(n_in_window AS BIGINT) AS n_in_window,
           {oracle_rnd('CAST(sum_dec AS DOUBLE) / n_in_window', 4)}
             AS moving_avg
    FROM (
      SELECT event_id, user_id, ts,
             count(*) OVER w AS n_in_window,
             sum(CAST(value AS DECIMAL(28,4))) OVER w AS sum_dec
      FROM events
      WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN {MOVAVG_WINDOW_S} * CAST(1000000 AS BIGINT)
                   PRECEDING AND CURRENT ROW)
    )
    """,
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24 h moving average of purchase values per user —
    the time-RANGE window (not row-count) form of trend smoothing
    the reference's odds-trend analysis implies
    (/root/reference/streamlit_dashboard.py:369-394 charts raw
    trails; a trailing mean is the standard smoothing companion).

    Semantics: the frame is [ts − 24 h, ts] by EVENT TIME — rows,
    not a fixed count, so bursty series weight correctly. Ordering
    is integer microseconds (unix_micros here, epoch_us in the
    oracle), making frame membership exact in both engines; the
    in-frame sum is decimal-exact, so the per-row average is
    engine- and partitioning-independent.

    Scale shape: one shuffle on user_id, one WindowExec; the range
    frame is evaluated with a sliding two-pointer pass over each
    sorted partition (O(n) amortized per partition, not O(n·w)).
    Per-user partitions are activity-bounded like sessionize's.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us.alias("us"))
        .rangeBetween(-MOVAVG_WINDOW_S * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_in_window"),
        rnd(
            F.sum(F.col("value").cast("decimal(28,4)")).over(w).cast("double")
            / F.count("*").over(w),
            4,
        ).alias("moving_avg"),
    )


# --- trailing z-score anomaly detection (alerting upgrade) ---

#: minimum preceding-window population for a stable z-score
ANOMALY_MIN_N = 5
#: trailing window for the anomaly baseline, seconds (7 days — the
#: synthetic purchase stream averages one event per user per ~2
#: days, so 24 h rarely reaches ANOMALY_MIN_N; a week gives every
#: SF a populated baseline and a handful of genuine flags)
ANOMALY_WINDOW_S = 7 * 24 * 3600
#: flag threshold in standard deviations
ANOMALY_Z = 2.5


@query(
    "q_anomaly",
    oracle=f"""
    WITH framed AS (
      SELECT event_id, user_id, ts, value,
             count(*) OVER w AS n_win,
             sum(CAST(floor(value * 10000 + 0.5) / 10000
                      AS DECIMAL(28,4))) OVER w AS s1,
             sum(CAST(floor(value * value * 10000 + 0.5) / 10000
                      AS DECIMAL(28,4))) OVER w AS s2
      FROM events
      WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN {ANOMALY_WINDOW_S} * CAST(1000000 AS BIGINT)
                   PRECEDING AND CAST(1 AS BIGINT) PRECEDING)
    ),
    scored AS (
      SELECT event_id, user_id, ts, value, n_win,
             CAST(s1 AS DOUBLE) / n_win AS mu,
             sqrt(greatest(CAST(s2 AS DOUBLE) / n_win
                           - (CAST(s1 AS DOUBLE) / n_win)
                             * (CAST(s1 AS DOUBLE) / n_win), 0)) AS sigma
      FROM framed WHERE n_win >= {ANOMALY_MIN_N}
    )
    SELECT event_id, user_id, ts,
           floor(value * 100 + 0.5) / 100 AS value,
           CAST(n_win AS BIGINT) AS n_win,
           floor(abs(value - mu) / sigma * 10000 + 0.5) / 10000 AS zscore
    FROM scored
    WHERE sigma > 0 AND abs(value - mu) / sigma > {ANOMALY_Z}
    """,
)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly detection: flag a purchase whose
    value sits more than 2.5σ (ANOMALY_Z) from the mean of the user's
    PRECEDING 7 days of purchases (current row excluded — it must not
    mask itself). The statistical upgrade of the reference's fixed
    >10% movement alert (discord_integration.py:477-498): thresholds
    adapt to each series' own volatility.

    Float parity: the frame is exact integer-µs; per-row value and
    value² are stable-rounded to 4 dp THEN decimal-summed, so μ and
    σ² derive from identical doubles in both engines; sqrt and the
    final ratio are correctly-rounded IEEE ops. Same one-shuffle
    WindowExec shape as q_moving_avg.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-ANOMALY_WINDOW_S * 1_000_000, -1)
    )
    dec = "decimal(28,4)"
    framed = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.count("*").over(w).alias("n_win"),
        F.sum(rnd(F.col("value"), 4).cast(dec)).over(w).alias("s1"),
        F.sum(rnd(F.col("value") * F.col("value"), 4).cast(dec)).over(w).alias("s2"),
    ).filter(F.col("n_win") >= ANOMALY_MIN_N)
    mu = F.col("s1").cast("double") / F.col("n_win")
    sigma = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n_win") - mu * mu, F.lit(0.0)
        )
    )
    scored = framed.select(
        "event_id",
        "user_id",
        "ts",
        rnd(F.col("value"), 2).alias("value"),
        "n_win",
        mu.alias("mu"),
        sigma.alias("sigma"),
        F.col("value").alias("__raw"),
    )
    return (
        scored.filter(
            (F.col("sigma") > 0)
            & (F.abs(F.col("__raw") - F.col("mu")) / F.col("sigma") > ANOMALY_Z)
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            "n_win",
            rnd(F.abs(F.col("__raw") - F.col("mu")) / F.col("sigma"), 4).alias(
                "zscore"
            ),
        )
    )


# --- bounded-frame EWMA (exponentially-weighted trend smoothing) ---

#: EWMA smoothing factor. 0.25 is exactly representable in binary
#: (2^-2), so `acc*0.75 + 0.25*x` is the same correctly-rounded IEEE
#: sequence in every engine — the fold needs no decimal lift.
EWMA_ALPHA = 0.25
#: frame bound: contributions older than 64 observations carry
#: relative weight (1-α)^63 ≈ 1.4e-8, so truncating the recursion to
#: a 64-row sliding frame deviates by ≲ 1.4e-8 × the value range
#: (~5e-6 here — see the q_ewma docstring for the honest bound). This
#: is what makes the operator DISTRIBUTABLE: the exact recursive
#: form is a sequential scan over the whole series (unbounded state,
#: no frame), while the bounded frame is a plain WindowExec.
EWMA_WINDOW = 64

_EWMA_FOLD_SQL = (
    "list_reduce("
    " list(value) OVER (PARTITION BY user_id"
    "                   ORDER BY epoch_us(ts), event_id"
    f"                  ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW),"
    f" (acc, x) -> acc * {1 - EWMA_ALPHA} + {EWMA_ALPHA} * x)"
)


@query(
    "q_ewma",
    oracle=f"""
    SELECT event_id, user_id, ts,
           {oracle_rnd('value', 4)} AS value,
           {oracle_rnd(_EWMA_FOLD_SQL, 6)} AS ewma
    FROM events
    WHERE event_type = 'view' AND value IS NOT NULL
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-frame exponentially-weighted moving average per
    series — the denoised companion of the reference's raw >10%
    movement alerts (/root/reference/discord_integration.py:477-498
    compares adjacent snapshots; an EWMA baseline suppresses
    one-tick flapping the way q_anomaly's z-score does, but with
    recency weighting).

    Semantics: pandas `ewm(alpha=0.25, adjust=False)` truncated to
    the trailing EWMA_WINDOW observations — y = fold(frame, y₀=x₁,
    y←0.75·y + 0.25·x) over the (ts, event_id)-ordered frame.
    Truncation replaces the state carried into the frame edge with
    the edge VALUE, so the deviation from the unbounded recursion is
    (1-α)^63·|y−x| at the edge ≈ 1.4e-8·range(x) — ~5e-6 on this
    data's 0–340 value range. That is noise for any analytic use but
    CAN exceed the 6-dp half-ulp, so the operator is defined as the
    truncated-frame EWMA (its own oracle folds the identical frame),
    not as 6-dp-equal to the infinite-history form.

    Float parity: both engines fold the identical value sequence
    with the identical exactly-representable constants, so every
    intermediate is the same correctly-rounded double; the 6-dp
    stable-round is belt-and-braces.

    Scale shape: ONE shuffle (hash by user_id), one WindowExec; the
    sliding frame materializes ≤64 doubles per row, so cost is
    O(n·64) time and O(frame) memory per partition — linear in the
    series, constant in history length, unlike the unbounded
    recursive form. Per-key partitions are activity-bounded; a
    pathological hot key salts the same way sessionize documents.
    10× probe (10× users, constant per-user activity — the sessions
    contract): 0.37 s → 0.61 s for 19 941 → 199 410 rows,
    overhead-bound sublinear.
    """
    from pyspark.sql import Window

    # NULL values must be filtered on BOTH sides: Spark's
    # collect_list silently drops frame NULLs while DuckDB's list()
    # keeps them (folding to NULL) — one NULL would shift 64 frames
    # on one engine only and hash-mismatch every affected row
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "view") & F.col("value").isNotNull()
    )
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(-(EWMA_WINDOW - 1), 0)
    )
    vals = F.collect_list("value").over(w)
    fold = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(1 - EWMA_ALPHA) + F.lit(EWMA_ALPHA) * x,
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        rnd(F.col("value"), 4).alias("value"),
        rnd(fold, 6).alias("ewma"),
    )
