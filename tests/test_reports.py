"""Gold report builders vs the reference's shipped report documents.

The assertion target is the DOCUMENT SHAPE: the top-level and nested
key sets of the reference pipeline's sample reports under its
``data/`` directory (``weekly_report.json``, ``health_status.json``,
``dashboard_data.json``, ``api_usage.json``,
``daily_mapping_stats.json``) must equal our output's. The key sets
are written out below so the test reads no file outside this repo
(values differ — the samples come from live 2025 data, ours from the
synthesized test corpus).
"""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F

from football_data_pipeline_spark.catalog import load
from football_data_pipeline_spark.operators.dims import _game_bronze
from football_data_pipeline_spark.operators.flatten import (
    extract_fixtures,
    extract_leagues,
    extract_teams,
    flatten_odds,
)
from football_data_pipeline_spark.operators.reports import (
    dashboard_data,
    health_status,
    weekly_report,
)
from football_data_pipeline_spark.sources.sinks import write_report_json
from football_data_pipeline_spark.streaming.jobs import synthesize_jobs

from .conftest import SF_DIR

NOW = "1995-06-01 00:00:00"


@pytest.fixture(scope="module")
def silver(spark):
    bronze = _game_bronze(load(spark, SF_DIR, "orders"))
    return {
        "fixtures": extract_fixtures(bronze).cache(),
        "teams": extract_teams(bronze).cache(),
        "leagues": extract_leagues(bronze).cache(),
        "odds": flatten_odds(bronze).cache(),
        "now": F.lit(NOW).cast("timestamp"),
    }


WEEKLY_KEYS = {"period", "report_date", "summary"}
WEEKLY_SUMMARY_KEYS = {
    "bookmakers", "collection_phases", "games_tracked", "odds_collected", "top_leagues"
}
HEALTH_KEYS = {"issues", "pipeline_status", "recommendations", "timestamp"}
DASHBOARD_KEYS = {
    "last_updated", "league_stats", "odds_movements", "stats", "top_teams", "upcoming_games"
}
DASHBOARD_STATS_KEYS = {"active_leagues", "total_fixtures", "total_odds_records"}
API_USAGE_KEYS = {
    "api_football_calls", "api_football_remaining", "completed_jobs", "date",
    "estimated_total_calls", "odds_api_calls", "usage_status",
}
MAPPING_KEYS = {"date", "report", "stats"}
MAPPING_STATS_KEYS = {
    "avg_confidence", "failed_mappings", "strategy_usage", "success_rate",
    "successful_mappings", "total_attempts",
}
# avg_processing_time stays out of the comparison, as it did against the sample
MAPPING_REPORT_KEYS = {
    "failed_mappings", "learned_mappings_count", "manual_mappings_count", "overall_stats",
    "period_days", "recent_successes", "report_date", "strategy_performance",
}


def _roundtrip(df, tmp_path) -> dict:
    """Write through the real report sink and read the document back."""
    out = str(tmp_path / "report")
    write_report_json(df, out)
    [part] = glob.glob(f"{out}/part-*.json")
    with open(part) as f:
        return json.loads(f.readline())


def test_weekly_report_shape(spark, silver, tmp_path):
    doc = _roundtrip(
        weekly_report(silver["odds"], silver["fixtures"], silver["leagues"], silver["now"]),
        tmp_path,
    )
    assert set(doc) == WEEKLY_KEYS
    assert set(doc["summary"]) == WEEKLY_SUMMARY_KEYS
    assert doc["period"] == "last_7_days"
    assert doc["summary"]["odds_collected"] > 0
    assert 0 < len(doc["summary"]["top_leagues"]) <= 5
    assert {b["name"] for b in doc["summary"]["bookmakers"]} == {"Alpha", "Beta"}
    assert set(doc["summary"]["top_leagues"][0]) == {"name", "games"}
    assert set(doc["summary"]["collection_phases"][0]) == {"phase", "records"}
    # breakdown ordering: records descending
    recs = [b["records"] for b in doc["summary"]["bookmakers"]]
    assert recs == sorted(recs, reverse=True)


def test_health_status_shape_and_rules(spark, silver, tmp_path):
    fixtures_for_jobs = silver["fixtures"].select(
        F.col("id").alias("fixture_id"), "kickoff_utc", F.lit("high").alias("priority")
    )
    jobs = synthesize_jobs(fixtures_for_jobs, silver["now"])
    doc = _roundtrip(
        health_status(jobs, silver["odds"], silver["fixtures"], silver["now"]), tmp_path
    )
    assert set(doc) == HEALTH_KEYS
    # no processed_at column → 'No recent job activity' must fire
    assert "No recent job activity" in doc["issues"]
    n = len(doc["issues"])
    expected = "unhealthy" if n > 3 else "degraded" if n > 0 else "healthy"
    assert doc["pipeline_status"] == expected

    # with fresh processed_at stamps the activity rule clears
    stamped = jobs.withColumn("processed_at", silver["now"])
    doc2 = _roundtrip(
        health_status(stamped, silver["odds"], silver["fixtures"], silver["now"]), tmp_path
    )
    assert "No recent job activity" not in doc2["issues"]


def test_dashboard_data_shape(spark, silver, tmp_path):
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    team_stats = QUERIES["q_team_stats_extract"].fn(spark, SF_DIR)
    doc = _roundtrip(
        dashboard_data(
            silver["fixtures"],
            silver["teams"],
            silver["leagues"],
            silver["odds"],
            team_stats,
            silver["now"],
        ),
        tmp_path,
    )
    assert set(doc) == DASHBOARD_KEYS
    assert set(doc["stats"]) == DASHBOARD_STATS_KEYS
    assert doc["stats"]["active_leagues"] == len(doc["league_stats"])
    assert doc["stats"]["total_fixtures"] == silver["fixtures"].count()
    assert len(doc["league_stats"]) > 0
    assert set(doc["league_stats"][0]) == {"name", "country", "total_games", "odds_records"}
    # league_stats ordering: total_games descending
    games = [r["total_games"] for r in doc["league_stats"]]
    assert games == sorted(games, reverse=True)
    if doc["upcoming_games"]:
        assert {"id", "kickoff_utc", "home_team", "away_team", "league", "country"} <= set(
            doc["upcoming_games"][0]
        )


def test_dashboard_movements_packing(spark, tmp_path):
    """odds_movements packing exercised with rows: crafted odds where
    one bookmaker's h2h odds jump >10% inside the last 24 h."""
    now = F.lit(NOW).cast("timestamp")
    fixtures = spark.createDataFrame(
        [(1, 10, 110, 7, 1995, "1995-06-02 15:00:00", "scheduled")],
        "id long, home_team_id long, away_team_id long, league_id long, "
        "season int, k string, status string",
    ).select("id", "home_team_id", "away_team_id", "league_id", "season",
             F.to_timestamp("k").alias("kickoff_utc"), "status")
    teams = spark.createDataFrame(
        [(10, "Home FC"), (110, "Away FC")], "id long, name string"
    )
    leagues = spark.createDataFrame(
        [(7, 1995, "League-7", "C")], "id long, season int, name string, country string"
    )
    odds = spark.createDataFrame(
        [
            (1, "Alpha", "h2h", 2.0, 3.0, 4.0, "1995-05-31 10:00:00"),
            (1, "Alpha", "h2h", 2.6, 3.0, 4.0, "1995-05-31 12:00:00"),  # +30%
            (1, "Beta", "h2h", 2.0, 3.0, 4.0, "1995-05-31 10:00:00"),
            (1, "Beta", "h2h", 2.05, 3.0, 4.1, "1995-05-31 12:00:00"),  # <10%
        ],
        "fixture_id long, bookmaker string, market_type string, "
        "home_odds double, draw_odds double, away_odds double, c string",
    ).select("*", F.to_timestamp("c").alias("collected_at")).drop("c")
    stats = spark.createDataFrame(
        [], "team_id long, league_id long, season int, collection_date string, "
        "matches_played int, wins int, win_percentage double, goals_for int, "
        "goals_against int, created_at timestamp",
    )
    doc = _roundtrip(
        dashboard_data(fixtures, teams, leagues, odds, stats, now), tmp_path
    )
    assert len(doc["odds_movements"]) == 1
    m = doc["odds_movements"][0]
    assert m["bookmaker"] == "Alpha" and m["home_team"] == "Home FC"
    assert m["home_change_pct"] == 30.0
    # the same crafted silver also feeds upcoming_games (kickoff +1d);
    # Alpha and Beta tie on the latest instant → bookmaker-DESC
    # tiebreak picks Beta (gold.py's documented determinism rule)
    assert len(doc["upcoming_games"]) == 1
    assert doc["upcoming_games"][0]["bookmaker"] == "Beta"
    assert doc["upcoming_games"][0]["home_odds"] == 2.05


def test_api_usage_report_shape(spark, tmp_path):
    from football_data_pipeline_spark.operators.reports import api_usage_report

    now = F.lit(NOW).cast("timestamp")
    jobs = spark.createDataFrame(
        [
            ("1_early_odds", "completed", "early_odds", "1995-05-31 22:00:00"),
            ("1_pre_match", "completed", "pre_match", "1995-05-31 23:00:00"),
            ("2_final_data", "completed", "final_data", "1995-05-20 10:00:00"),  # old
            ("3_team_news", "pending", "team_news", None),
        ],
        "id string, status string, type string, p string",
    ).select("id", "status", "type", F.to_timestamp("p").alias("processed_at"))
    doc = _roundtrip(api_usage_report(jobs, now), tmp_path)
    assert set(doc) == API_USAGE_KEYS
    assert doc["completed_jobs"] == 2
    assert doc["estimated_total_calls"] == 2 + 4
    assert doc["api_football_calls"] == 1 + 3
    assert doc["api_football_remaining"] == 96
    assert doc["usage_status"] == "green"


def test_mapping_stats_report_shape(spark, silver, tmp_path):
    from football_data_pipeline_spark.operators.reports import mapping_stats_report
    from football_data_pipeline_spark.operators.resolution import attempt_log

    resolved = spark.createDataFrame(
        [
            ("A", "A", 1.0, "exact_match", ["B"]),
            ("B", "B2", 0.85, "normalized_matching", []),
            ("C", None, None, "no_match", []),
        ],
        "api_name string, matched_name string, confidence double, "
        "strategy string, alternatives array<string>",
    )
    from pyspark.sql import functions as _F

    attempts = attempt_log(resolved, now=_F.lit(NOW).cast("timestamp"))
    learned = spark.createDataFrame([("A", "A")], "api_name string, learned_name string")
    manual = spark.createDataFrame([("X", "Y"), ("Z", "W")], "api_name string, manual_target string")
    doc = _roundtrip(
        mapping_stats_report(attempts, learned, manual, F.lit(NOW).cast("timestamp")),
        tmp_path,
    )
    assert set(doc) == MAPPING_KEYS
    assert set(doc["stats"]) == MAPPING_STATS_KEYS
    assert set(doc["report"]) - {"avg_processing_time"} == MAPPING_REPORT_KEYS
    assert doc["stats"]["total_attempts"] == 3
    assert doc["stats"]["successful_mappings"] == 2
    assert doc["stats"]["failed_mappings"] == 1
    # success-only, like the reference's WHERE success = 1 — the
    # failed attempt's 'no_match' must NOT appear
    assert doc["stats"]["strategy_usage"] == {
        "exact_match": 1, "normalized_matching": 1
    }
    assert doc["report"]["learned_mappings_count"] == 1
    assert doc["report"]["manual_mappings_count"] == 2
    assert doc["report"]["failed_mappings"] == [{"api_name": "C"}]


def test_health_fails_closed_on_empty_warehouse(spark, tmp_path):
    """A dead pipeline (all tables empty) must NOT report healthy —
    empty-aggregate NULLs were silently dropping every rule."""
    now = F.lit(NOW).cast("timestamp")
    jobs = spark.createDataFrame([], "id string, status string, processed_at timestamp")
    odds = spark.createDataFrame([], "fixture_id long, collected_at timestamp")
    fixtures = spark.createDataFrame([], "id long, kickoff_utc timestamp")
    doc = _roundtrip(health_status(jobs, odds, fixtures, now), tmp_path)
    assert set(doc["issues"]) == {
        "No recent job activity",
        "No recent odds data collected",
        "No upcoming fixtures found",
    }
    assert doc["pipeline_status"] == "degraded"  # 3 issues → final rule


def test_dashboard_odds_records_not_inflated(spark, tmp_path):
    """A fixture with zero odds must contribute zero odds_records
    (the left-join USING key is never NULL — count a right marker)."""
    now = F.lit(NOW).cast("timestamp")
    fixtures = spark.createDataFrame(
        [(1, 10, 110, 7, 1995, "1995-06-02 15:00:00", "scheduled"),
         (2, 10, 110, 7, 1995, "1995-06-03 15:00:00", "scheduled")],
        "id long, home_team_id long, away_team_id long, league_id long, "
        "season int, k string, status string",
    ).select("id", "home_team_id", "away_team_id", "league_id", "season",
             F.to_timestamp("k").alias("kickoff_utc"), "status")
    teams = spark.createDataFrame([(10, "H"), (110, "A")], "id long, name string")
    leagues = spark.createDataFrame(
        [(7, 1995, "L7", "C")], "id long, season int, name string, country string"
    )
    odds = spark.createDataFrame(
        [(1, "Alpha", "h2h", 2.0, 3.0, 4.0, "1995-05-31 10:00:00"),
         (1, "Alpha", "h2h", 2.1, 3.0, 4.0, "1995-05-31 11:00:00"),
         (1, "Alpha", "h2h", 2.2, 3.0, 4.0, "1995-05-31 12:00:00")],
        "fixture_id long, bookmaker string, market_type string, "
        "home_odds double, draw_odds double, away_odds double, c string",
    ).select("*", F.to_timestamp("c").alias("collected_at")).drop("c")
    stats = spark.createDataFrame(
        [], "team_id long, league_id long, season int, collection_date string, "
        "matches_played int, wins int, win_percentage double, goals_for int, "
        "goals_against int, created_at timestamp",
    )
    doc = _roundtrip(dashboard_data(fixtures, teams, leagues, odds, stats, now), tmp_path)
    [ls] = doc["league_stats"]
    assert ls["total_games"] == 2
    assert ls["odds_records"] == 3  # fixture 2 adds ZERO, not one


def test_validate_counts_ranges_and_freshness(spark):
    """validate_data.py parity: in_range verdicts against the
    reference's expected-value table, freshness fails closed on an
    empty table and on a NULL-only timestamp column."""
    from football_data_pipeline_spark.operators.reports import validate_counts

    now = F.lit(NOW).cast("timestamp")
    fixtures = spark.createDataFrame(
        [(i, "1995-05-31 14:00:00") for i in range(12)], "id long, c string"
    ).select("id", F.to_timestamp("c").alias("created_at"))  # 12 ∈ [10, 30]
    odds = spark.createDataFrame(
        [(1, "1995-04-01 10:00:00")], "fixture_id long, c string"
    ).select("fixture_id", F.to_timestamp("c").alias("collected_at"))  # 1 < 30, stale
    teams = spark.createDataFrame([], "id long, updated_at timestamp")  # empty
    leagues = spark.createDataFrame(
        [(i, None) for i in range(7)], "id long, created_at timestamp"
    )  # 7 ∈ [5, 10], NULL timestamps
    rows = {
        r["table_name"]: r.asDict()
        for r in validate_counts(fixtures, odds, teams, leagues, now).collect()
    }
    assert set(rows) == {"fixtures", "odds", "teams", "leagues"}
    assert rows["fixtures"]["in_range"] and rows["fixtures"]["is_fresh"]
    assert not rows["odds"]["in_range"] and not rows["odds"]["is_fresh"]
    assert rows["teams"]["row_count"] == 0
    assert not rows["teams"]["in_range"] and not rows["teams"]["is_fresh"]
    assert rows["teams"]["latest_ts"] is None
    assert rows["leagues"]["in_range"] and not rows["leagues"]["is_fresh"]
    assert (rows["fixtures"]["expected_min"], rows["fixtures"]["expected_max"]) == (10, 30)
