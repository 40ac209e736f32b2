"""Driver-checkable ETL queries over the testdata tables.

The JSON-document flatteners (flatten.py) are exercised by golden
tests on reference-shaped docs; these two queries expose the same
machinery on the driver's synthetic tables so the oracle gate covers
it too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.stable import oracle_davg, rnd
from ..registry import query
from .upsert import keep_latest


@query(
    "q_json_extract",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           {oracle_davg("CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS avg_k,
           CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events
    GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6: JSON-as-TEXT column parsed in-engine, then aggregated.

    The reference round-trips JSON through TEXT columns
    (``alternatives``, /root/reference/enhanced_mapping.py:94,628,713)
    and navigates payload dicts defensively. ``get_json_object`` is
    the codegen'd equivalent — no UDF, pushdown-friendly.
    """
    events = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        rnd(F.sum(k.cast("decimal(28,4)")).cast("double") / F.count(k)).alias("avg_k"),
        F.sum(F.when(k > 50, 1).otherwise(0)).alias("n_high"),
    )


@query(
    "q_upsert_latest",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type,
           floor(value * 100 + 0.5) / 100 AS current_value,
           ts AS updated_at
    FROM ranked WHERE rn = 1
    """,
)
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 as a query: the table state after replaying a changelog with
    INSERT OR REPLACE semantics == latest row per key.

    This is exactly ``keep_latest`` from the upsert library
    (/root/reference/database_integration.py:127-130 semantics), a
    name over ``rank.first_per_key`` — the one keep-one-row-per-key
    window that the merges, the W1 view and the stream collapses
    share — proving that window against the SQL oracle.
    """
    events = load(spark, sf_dir, "events")
    latest = keep_latest(events, ["user_id", "event_type"], ["ts", "event_id"])
    return latest.select(
        "user_id",
        "event_type",
        rnd(F.col("value")).alias("current_value"),
        F.col("ts").alias("updated_at"),
    )


_FLAT_ODDS_ORACLE = """
    WITH m(bookmaker, market_type) AS (
      VALUES ('Alpha', 'h2h'), ('Alpha', 'h2h_lay'),
             ('Beta', 'totals'), ('Beta', 'spreads')
    )
    SELECT o_orderkey AS fixture_id, bookmaker, market_type,
           CASE WHEN market_type = 'h2h' THEN (o_orderkey % 250) / 100.0 + 1.1
                WHEN market_type = 'spreads' THEN (o_orderkey % 130) / 100.0 + 1.8 END AS home_odds,
           CASE WHEN market_type = 'h2h' THEN (o_orderkey % 170) / 100.0 + 2.5 END AS draw_odds,
           CASE WHEN market_type = 'h2h' THEN (o_orderkey % 310) / 100.0 + 1.3
                WHEN market_type = 'spreads' THEN (o_orderkey % 140) / 100.0 + 1.9 END AS away_odds,
           CASE WHEN market_type = 'totals' THEN (o_orderkey % 90) / 100.0 + 1.6 END AS over_odds,
           CASE WHEN market_type = 'totals' THEN (o_orderkey % 110) / 100.0 + 1.7 END AS under_odds,
           CASE WHEN market_type = 'spreads' THEN -(0.5 + (o_orderkey % 2)) END AS handicap,
           CASE WHEN market_type = 'totals' THEN 2.5 + (o_orderkey % 3) END AS total_points,
           CAST(o_orderdate AS TIMESTAMP) AS collected_at,
           'early_odds' AS collection_phase
    FROM orders CROSS JOIN m
    """


@query("q_odds_flatten", oracle=_FLAT_ODDS_ORACLE)
def q_odds_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1+N2 as a driver-checkable query: synthesize one bronze-shaped
    nested odds document per order (2 bookmakers × 2 markets each,
    struct-typed like the real ingest schema), then run the REAL
    ``flatten_odds`` over it.

    The oracle states the expected relational output directly — the
    construction is deterministic, so flattening correctness (incl.
    the N2 quirk: the unknown ``h2h_lay`` market still yields a row
    with all-NULL odds, /root/reference/database_integration.py:
    219-226) is what the comparison actually checks. Plan shape:
    struct build + two explodes, zero shuffles, fully codegen'd —
    the 100 TB ETL core.
    """
    from .flatten import flatten_odds

    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    home = F.concat(F.lit("Team-"), (F.col("o_custkey") % 100).cast("string"))
    away = F.concat(F.lit("Team-"), ((F.col("o_custkey") + 37) % 100).cast("string"))

    def outcome(name, price, point=None):
        pt = F.lit(None).cast("double") if point is None else point.cast("double")
        return F.struct(
            name.alias("name") if hasattr(name, "alias") else F.lit(name).alias("name"),
            price.cast("double").alias("price"),
            pt.alias("point"),
        )

    def market(mkey, outcomes):
        return F.struct(F.lit(mkey).alias("key"), outcomes.alias("outcomes"))

    h2h = market(
        "h2h",
        F.array(
            outcome(home, key % 250 / 100.0 + 1.1),
            outcome("Draw", key % 170 / 100.0 + 2.5),
            outcome(away, key % 310 / 100.0 + 1.3),
        ),
    )
    # the N2 quirk: a market key the warehouse doesn't recognize
    lay = market("h2h_lay", F.array().cast("array<struct<name:string,price:double,point:double>>"))
    totals = market(
        "totals",
        F.array(
            outcome("Over", key % 90 / 100.0 + 1.6, 2.5 + key % 3),
            outcome("Under", key % 110 / 100.0 + 1.7, 2.5 + key % 3),
        ),
    )
    spreads = market(
        "spreads",
        F.array(
            outcome(home, key % 130 / 100.0 + 1.8, -(0.5 + key % 2)),
            outcome(away, key % 140 / 100.0 + 1.9, 0.5 + key % 2),
        ),
    )
    payload = F.struct(
        home.alias("home_team"),
        away.alias("away_team"),
        F.array(
            F.struct(F.lit("Alpha").alias("title"), F.array(h2h, lay).alias("markets")),
            F.struct(F.lit("Beta").alias("title"), F.array(totals, spreads).alias("markets")),
        ).alias("bookmakers"),
    )
    null_payload = F.when(F.lit(False), payload)
    bronze = orders.select(
        key.alias("fixture_id"),
        F.lit("early_odds").alias("collection_type"),
        F.col("o_orderdate").cast("timestamp").alias("collected_at_ts"),
        F.struct(
            payload.alias("odds_early"),
            null_payload.alias("odds_pre_match"),
            null_payload.alias("odds_team_news"),
            null_payload.alias("odds_final_data"),
        ).alias("data"),
    )
    return flatten_odds(bronze)


_LINEUPS_ORACLE = """
    WITH s(side, slot) AS (
      VALUES (0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)
    )
    SELECT o_orderkey AS fixture_id,
           o_custkey + side * 100000 AS team_id,
           CASE WHEN side = 0 THEN '4-4-2' ELSE 'Unknown' END AS formation,
           o_orderkey * 10 + side * 5 + slot AS player_id,
           CASE WHEN slot = 1 THEN 'Unknown' ELSE 'M' END AS position,
           slot < 2 AS is_starter,
           CASE WHEN slot < 2 THEN (slot = 0 AND side = 0) END AS is_captain,
           CAST(o_orderdate AS TIMESTAMP) AS collected_at,
           'P-' || CAST(o_orderkey * 10 + side * 5 + slot AS VARCHAR) AS player_name
    FROM orders CROSS JOIN s
    """


@query("q_lineups_flatten", oracle=_LINEUPS_ORACLE)
def q_lineups_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 as a driver-checkable query: synthesize a lineups document
    per order (2 teams × 2 starters + 1 substitute) and run the REAL
    ``flatten_lineups``.

    Checks the startXI/substitutes union with the is_starter flag,
    captain only on starters (substitutes leave is_captain NULL —
    the reference omits the column on the substitute INSERT,
    /root/reference/database_integration.py:313-332), and the
    'Unknown' defaults for missing formation/position.
    """
    from .flatten import flatten_lineups

    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")

    def player(side, slot, starter):
        pid = key * 10 + side * 5 + slot
        return F.struct(
            F.struct(
                pid.alias("id"),
                F.concat(F.lit("P-"), pid.cast("string")).alias("name"),
                (F.lit(None).cast("string") if slot == 1 else F.lit("M")).alias("pos"),
                (F.lit(slot == 0 and side == 0) if starter else F.lit(None).cast("boolean")).alias("captain"),
            ).alias("player")
        )

    def team(side):
        return F.struct(
            F.struct((F.col("o_custkey") + side * 100000).alias("id")).alias("team"),
            (F.lit("4-4-2") if side == 0 else F.lit(None).cast("string")).alias("formation"),
            F.array(player(side, 0, True), player(side, 1, True)).alias("startXI"),
            F.array(player(side, 2, False)).alias("substitutes"),
        )

    bronze = orders.select(
        key.alias("fixture_id"),
        F.col("o_orderdate").cast("timestamp").alias("collected_at_ts"),
        F.struct(
            F.struct(F.array(team(0), team(1)).alias("response")).alias("lineups")
        ).alias("data"),
    )
    return flatten_lineups(bronze)


_STATS_ORACLE = """
    WITH s(side) AS (VALUES (0), (1))
    SELECT o_custkey + side * 100000 AS team_id,
           (o_orderkey % 20) + 1 AS league_id,
           CASE WHEN month(o_orderdate) >= 8 THEN year(o_orderdate)
                ELSE year(o_orderdate) - 1 END AS season,
           strftime(o_orderdate, '%Y-%m-%d') AS collection_date,
           CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE (o_orderkey % 30) + 2 END AS matches_played,
           CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE o_orderkey % 10 END AS wins,
           o_orderkey % 5 AS draws,
           o_orderkey % 4 AS losses,
           o_orderkey % 40 AS goals_for,
           o_orderkey % 35 AS goals_against,
           floor(CASE WHEN o_orderkey % 7 = 0 THEN 0
                      ELSE (o_orderkey % 10) * 1.0 / greatest((o_orderkey % 30) + 2, 1) * 100
                 END * 100 + 0.5) / 100 AS win_percentage,
           CAST(o_orderdate AS TIMESTAMP) AS created_at
    FROM orders CROSS JOIN s
    """


@query("q_team_stats_extract", oracle=_STATS_ORACLE)
def q_team_stats_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 as a driver-checkable query: deep nested-struct extraction
    with coalesce defaults and the A10 write-time KPI.

    Every 7th order's fixtures branch is NULL end-to-end, checking
    the ``.get(..., 0)`` default chain (/root/reference/
    database_integration.py:247-253) and the max(played, 1) guard in
    win_percentage. Season derives from the collection date (F3).
    """
    from .flatten import extract_team_statistics

    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")

    def total(expr):
        return F.struct(expr.cast("int").alias("total"))

    def goals_total(expr):
        return F.struct(F.struct(expr.cast("int").alias("total")).alias("total"))

    # every 7th order: played/wins branches NULL (default to 0 and
    # the KPI guard kicks in); draws/loses carried always
    stats_response = F.struct(
        F.struct(
            F.when(key % 7 != 0, total(key % 30 + 2)).alias("played"),
            F.when(key % 7 != 0, total(key % 10)).alias("wins"),
            total(key % 5).alias("draws"),
            total(key % 4).alias("loses"),
        ).alias("fixtures"),
        F.struct(
            goals_total(key % 40).alias("for"),
            goals_total(key % 35).alias("against"),
        ).alias("goals"),
    )

    def env(side):
        return F.struct(stats_response.alias("response"))

    bronze = orders.select(
        F.col("o_orderdate").cast("timestamp").alias("collected_at_ts"),
        F.struct(
            F.col("o_custkey").alias("home_team_id"),
            (F.col("o_custkey") + 100000).alias("away_team_id"),
            (key % 20 + 1).alias("league_id"),
        ).alias("game_info"),
        F.struct(
            env(0).alias("home_team_stats"),
            env(1).alias("away_team_stats"),
        ).alias("data"),
    )
    return extract_team_statistics(bronze)


_H2H_ORACLE = """
    WITH m(slot) AS (VALUES (0), (1), (2))
    SELECT o_custkey AS home_team_id,
           o_custkey + 100000 AS away_team_id,
           o_orderkey * 10 + slot AS fixture_id,
           CAST((o_orderkey + slot) % 6 AS INTEGER) AS home_score,
           CAST((o_orderkey + slot) % 4 AS INTEGER) AS away_score,
           strftime(o_orderdate - INTERVAL (30 * (slot + 1)) DAY, '%Y-%m-%d') AS match_date,
           (o_orderkey % 20) + 1 AS league_id,
           CAST(o_orderdate AS TIMESTAMP) AS created_at
    FROM orders CROSS JOIN m
    """


@query("q_h2h_flatten", oracle=_H2H_ORACLE)
def q_h2h_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 as a driver-checkable query: synthesize a head-to-head
    document per order (3 historical meetings in ``response[]``,
    ISO-Z kickoff strings) and run the REAL ``flatten_head_to_head``.

    Checks the response[] explode, nested team/goals/fixture struct
    selection, and the Z-suffix timestamp fixup → DATE conversion
    (/root/reference/database_integration.py:261-280).
    """
    from .flatten import flatten_head_to_head

    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")

    def meeting(slot):
        dt = F.date_sub(F.col("o_orderdate"), 30 * (slot + 1))
        return F.struct(
            F.struct(
                F.struct(F.col("o_custkey").alias("id")).alias("home"),
                F.struct((F.col("o_custkey") + 100000).alias("id")).alias("away"),
            ).alias("teams"),
            F.struct(
                (key * 10 + slot).alias("id"),
                F.concat(F.date_format(dt, "yyyy-MM-dd"), F.lit("T15:00:00Z")).alias("date"),
            ).alias("fixture"),
            F.struct(
                ((key + slot) % 6).cast("int").alias("home"),
                ((key + slot) % 4).cast("int").alias("away"),
            ).alias("goals"),
            F.struct((key % 20 + 1).alias("id")).alias("league"),
        )

    bronze = orders.select(
        F.col("o_orderdate").cast("timestamp").alias("collected_at_ts"),
        F.struct(
            F.struct(F.array(meeting(0), meeting(1), meeting(2)).alias("response")).alias(
                "head_to_head"
            )
        ).alias("data"),
    )
    flat = flatten_head_to_head(bronze)
    # DATE → ISO string at the query edge (oracle-comparable form;
    # the silver schema itself keeps DateType)
    return flat.withColumn("match_date", F.date_format("match_date", "yyyy-MM-dd"))
