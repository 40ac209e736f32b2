"""Gold layer: the reference's analytical view, composed over the
engine's own silver tables.

``upcoming_games_with_odds`` is the reference's single view and its
most load-bearing artifact (/root/reference/database_schema.sql:
144-169): scheduled future fixtures ⋈ teams (home role) ⋈ teams (away
role) ⋈ leagues, left-joined to the latest h2h odds snapshot per
fixture (``ROW_NUMBER() OVER (PARTITION BY fixture_id ORDER BY
collected_at DESC) = 1``).

Scale notes: both team roles and the leagues dim are explicit
broadcasts (dims are tiny — the reference's whole teams table is
20-60 rows/day, SURVEY.md §6; even at 100 TB of odds the dims stay
MB-scale). The only shuffles are the latest-per-fixture window and
the fixture⋈odds equi-join, both keyed on high-cardinality
fixture_id, so they spread evenly and AQE can coalesce. No global
sort: the view's ``ORDER BY kickoff_utc`` is presentation-layer and
is left to the consumer (a LIMIT-ed TakeOrderedAndProject if needed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .upsert import keep_latest


def upcoming_games_with_odds(
    fixtures: DataFrame,
    teams: DataFrame,
    leagues: DataFrame,
    odds_history: DataFrame,
    now: Column,
    require_scheduled: bool = True,
    horizon_hours: int | None = None,
) -> DataFrame:
    """The reference view (/root/reference/database_schema.sql:144-169)
    as one DataFrame composition.

    ``horizon_hours`` mirrors the Discord ``!games`` command's
    parameterized window (discord_integration.py:101 ``hours: int =
    24`` → ``kickoff_utc BETWEEN now AND now + hours``): when set,
    fixtures beyond ``now + horizon_hours`` are excluded. The bare
    view (``None``, default) keeps the schema.sql semantics — every
    future fixture. Both bounds push down to the fixtures scan.

    Divergences, both deliberate:
    - leagues joins on (league_id, season) — the reference joins on
      ``l.id`` alone, which is only sound because its SQLite PK can
      hold a single season per league; the dim here is keyed
      (id, season) per the DDL's ``UNIQUE(id, season)``.
    - the latest-odds window breaks collected_at ties on bookmaker
      (descending) — the reference's ``rn = 1`` pick is
      nondeterministic when two bookmakers share a snapshot instant.
    """
    h2h = odds_history.filter(F.col("market_type") == "h2h").select(
        "fixture_id", "home_odds", "draw_odds", "away_odds", "bookmaker", "collected_at"
    )
    latest = keep_latest(h2h, ["fixture_id"], ["collected_at", "bookmaker"]).select(
        F.col("fixture_id").alias("__odds_fixture_id"),
        "home_odds",
        "draw_odds",
        "away_odds",
        "bookmaker",
        F.col("collected_at").alias("odds_updated"),
    )
    ht = teams.select(F.col("id").alias("__ht_id"), F.col("name").alias("home_team"))
    at = teams.select(F.col("id").alias("__at_id"), F.col("name").alias("away_team"))
    lg = leagues.select(
        F.col("id").alias("__lg_id"),
        F.col("season").alias("__lg_season"),
        F.col("name").alias("league"),
        "country",
    )
    # the VIEW (database_schema.sql:146) filters status='scheduled';
    # the DASHBOARD query (yml) filters only on kickoff — callers
    # mirroring the latter pass require_scheduled=False so a
    # live/postponed fixture with a future kickoff still appears
    upcoming = fixtures.filter(F.col("kickoff_utc") > now)
    if horizon_hours is not None:
        upcoming = upcoming.filter(
            F.col("kickoff_utc") <= now + F.expr(f"INTERVAL {int(horizon_hours)} HOUR")
        )
    if require_scheduled:
        upcoming = upcoming.filter(F.col("status") == "scheduled")
    return (
        upcoming.join(F.broadcast(ht), upcoming.home_team_id == ht.__ht_id)
        .join(F.broadcast(at), upcoming.away_team_id == at.__at_id)
        .join(
            F.broadcast(lg),
            (upcoming.league_id == lg.__lg_id) & (upcoming.season == lg.__lg_season),
        )
        .join(latest, upcoming.id == latest.__odds_fixture_id, "left")
        .select(
            upcoming.id.alias("fixture_id"),
            "kickoff_utc",
            "home_team",
            "away_team",
            "league",
            "country",
            "home_odds",
            "draw_odds",
            "away_odds",
            "bookmaker",
            "odds_updated",
        )
    )


def team_form(
    teams: DataFrame,
    team_statistics: DataFrame,
    fixtures: DataFrame,
    team_like: str,
    now: Column,
    n_recent: int = 5,
) -> DataFrame:
    """The Discord ``!form`` command read path
    (/root/reference/discord_integration.py:232-301 +
    database_integration.py:370-415 ``get_team_form_analysis``),
    composed end-to-end: LIKE team resolution (LIMIT 1) → the team's
    latest team_statistics snapshot (W1) → its last ``n_recent``
    completed fixtures (``kickoff_utc <= now AND status !=
    'scheduled'``) with the venue CASE, the opponent name, and a
    W/D/L result string — one output row per recent fixture, each
    carrying the full team + season-stats context the embed renders.

    Differences from the reference, all deliberate:
    - the LIKE ``LIMIT 1`` and both DESC LIMIT cuts carry explicit
      tie-breaks (team id; collection_date/created_at;
      kickoff_utc/fixture id) where SQLite relies on scan order;
    - the W/D/L derivation the embed needs (the reference renders
      venue icon + opponent and leaves the result implicit in the
      fixture row) is made explicit from home/away scores;
    - a resolved team with stats but zero completed fixtures still
      yields one context row with NULL fixture columns (the
      reference renders the stats-only embed) — same right-outer
      pattern as team_odds_lookup; an unresolved team yields zero
      rows ("Team not found").

    Scale shape: the resolved team and its stats snapshot are 1-row
    broadcasts; the only full scans are one pass of team_statistics
    (broadcast-semi probe → 1-row max_by aggregate, no sort) and one
    pass of fixtures (two broadcast probes → union →
    TakeOrderedAndProject top-``n_recent``). Nothing shuffles more
    than the candidate set at any corpus size.
    """
    team = (
        teams.filter(F.col("name").like(f"%{team_like}%"))
        .orderBy("id")
        .limit(1)
        .select(F.col("id").alias("__t_id"), F.col("name").alias("team_name"))
    )
    # latest stats snapshot as a 1-row AGGREGATE (max_by over a total
    # ordering key) rather than orderBy+limit: an aggregate still
    # yields its row (all-NULL) when the team has no stats yet, which
    # is exactly the reference's "embed without the stats field"
    stats = team_statistics.join(
        F.broadcast(team.select("__t_id")),
        team_statistics.team_id == F.col("__t_id"),
        "left_semi",
    )
    ordkey = F.struct(F.col("collection_date"), F.col("created_at"), F.col("league_id"))
    snap = stats.agg(
        F.max_by(
            F.struct("matches_played", "win_percentage", "goals_for", "goals_against"),
            ordkey,
        ).alias("s")
    ).select(
        F.col("s.matches_played").alias("matches_played"),
        F.col("s.win_percentage").alias("win_percentage"),
        F.col("s.goals_for").alias("goals_for"),
        F.col("s.goals_against").alias("goals_against"),
    )
    context = team.crossJoin(F.broadcast(snap))  # 1 row iff team resolved

    def arm(side: str) -> DataFrame:
        other = "away" if side == "home" else "home"
        hit = fixtures.join(
            F.broadcast(team.select("__t_id")),
            fixtures[f"{side}_team_id"] == F.col("__t_id"),
        )
        return hit.select(
            F.col("__t_id").alias("__r_id"),
            F.col("id").alias("fixture_id"),
            "kickoff_utc",
            F.lit(side).alias("venue"),
            F.col(f"{other}_team_id").alias("__opp_id"),
            F.col(f"{side}_score").alias("team_score"),
            F.col(f"{other}_score").alias("opp_score"),
            "status",
        )

    opp = teams.select(F.col("id").alias("__o_id"), F.col("name").alias("opponent"))
    recent = (
        arm("home")
        .unionByName(arm("away"))
        .filter((F.col("kickoff_utc") <= now) & (F.col("status") != "scheduled"))
        .orderBy(F.desc("kickoff_utc"), F.desc("fixture_id"))
        .limit(n_recent)
        .join(F.broadcast(opp), F.col("__opp_id") == F.col("__o_id"))
        .select(
            "__r_id",
            "fixture_id",
            "kickoff_utc",
            "venue",
            "opponent",
            "team_score",
            "opp_score",
            F.when(F.col("team_score") > F.col("opp_score"), "W")
            .when(F.col("team_score") == F.col("opp_score"), "D")
            .when(F.col("team_score") < F.col("opp_score"), "L")
            .alias("result"),
        )
    )
    return (
        F.broadcast(recent)
        .join(context, recent.__r_id == context.__t_id, "right")
        .select(
            F.col("__t_id").alias("team_id"),
            "team_name",
            "matches_played",
            "win_percentage",
            "goals_for",
            "goals_against",
            "fixture_id",
            "kickoff_utc",
            "venue",
            "opponent",
            "team_score",
            "opp_score",
            "result",
        )
    )


def odds_trends(
    fixtures: DataFrame,
    teams: DataFrame,
    odds_history: DataFrame,
    team_like: str,
    now: Column,
) -> DataFrame:
    """The Discord ``!trends`` command read path
    (/root/reference/discord_integration.py:183-230 +
    database_integration.py:358-367 ``get_odds_trends``), composed:
    LIKE team resolution → the team's next upcoming fixture → that
    fixture's full odds trail (every market/bookmaker snapshot, the
    reference's ``ORDER BY market_type, collected_at`` point query)
    joined with the per-(bookmaker, market) first-vs-last movement
    summary (W3 — the chart the reference draws from the trail) into
    one response document: one row per trail snapshot carrying
    first/last/percent-moved columns for its series.

    The reference's "Not enough odds data" guard (< 2 h2h snapshots,
    discord_integration.py:211-213) maps to ``n_snapshots`` in every
    row — the caller checks it instead of a driver-side count.

    Scale shape: identical to team_odds_lookup — dim-sized broadcast
    resolution, one fixtures scan → top-1, one odds_history point
    scan; the trail and its movement summary are fixture-local (a
    few dozen rows) so their join broadcasts. The first/last summary
    is min_by/max_by — a single hash aggregate, no window sort.
    """
    matched = teams.filter(F.col("name").like(f"%{team_like}%")).select(
        F.col("id").alias("__m_id")
    )
    home_hit = fixtures.join(
        F.broadcast(matched), fixtures.home_team_id == matched.__m_id, "left_semi"
    )
    away_hit = fixtures.join(
        F.broadcast(matched), fixtures.away_team_id == matched.__m_id, "left_semi"
    )
    ht = teams.select(F.col("id").alias("__ht_id"), F.col("name").alias("home_team"))
    at = teams.select(F.col("id").alias("__at_id"), F.col("name").alias("away_team"))
    next_game = (
        home_hit.unionByName(away_hit)
        .dropDuplicates(["id"])
        .filter(F.col("kickoff_utc") > now)
        .orderBy("kickoff_utc", "id")
        .limit(1)
        .join(F.broadcast(ht), F.col("home_team_id") == F.col("__ht_id"))
        .join(F.broadcast(at), F.col("away_team_id") == F.col("__at_id"))
        .select(F.col("id").alias("__fx_id"), "kickoff_utc", "home_team", "away_team")
    )
    trail = odds_history.join(
        F.broadcast(next_game), odds_history.fixture_id == next_game.__fx_id
    ).drop("__fx_id")
    # W3 over the fixture-local trail: deterministic first/last per
    # (bookmaker, market) series via min_by/max_by on a total order
    sordkey = F.struct(F.col("collected_at"), F.col("collection_phase"))
    movement = (
        trail.groupBy("bookmaker", "market_type")
        .agg(
            F.count("*").alias("n_snapshots"),
            F.min_by("home_odds", sordkey).alias("first_home"),
            F.max_by("home_odds", sordkey).alias("last_home"),
            F.min_by("away_odds", sordkey).alias("first_away"),
            F.max_by("away_odds", sordkey).alias("last_away"),
        )
        .select(
            F.col("bookmaker").alias("__mb"),
            F.col("market_type").alias("__mm"),
            "n_snapshots",
            "first_home",
            "last_home",
            "first_away",
            "last_away",
        )
    )
    from ..functions.stable import rnd

    from .windows import pct_change

    return (
        trail.join(
            F.broadcast(movement),
            (trail.bookmaker == movement.__mb) & (trail.market_type == movement.__mm),
        )
        .select(
            "fixture_id",
            "kickoff_utc",
            "home_team",
            "away_team",
            "market_type",
            "bookmaker",
            "collection_phase",
            "home_odds",
            "draw_odds",
            "away_odds",
            "collected_at",
            "n_snapshots",
            "first_home",
            "last_home",
            rnd(pct_change(F.col("last_home"), F.col("first_home"))).alias("home_change_pct"),
            "first_away",
            "last_away",
            rnd(pct_change(F.col("last_away"), F.col("first_away"))).alias("away_change_pct"),
        )
    )


def team_odds_lookup(
    fixtures: DataFrame,
    teams: DataFrame,
    leagues: DataFrame,
    odds_history: DataFrame,
    team_like: str,
    now: Column,
    n_snapshots: int = 3,
) -> DataFrame:
    """The Discord ``!odds`` command read path
    (/root/reference/discord_integration.py:135-160), composed
    end-to-end: substring team resolution (P5) → the team's next
    upcoming fixture (earliest kickoff, LIMIT 1) → the latest
    ``n_snapshots`` h2h odds snapshots for it, each row carrying the
    full game context for embed rendering.

    Differences from the reference, both deliberate:
    - the reference's ``(ht.name LIKE ? OR at.name LIKE ?)`` OR-join
      is rewritten as a union of two broadcast semi joins (the J4
      rewrite) — the LIKE-matched team set is dim-sized, so each arm
      is a broadcast probe, never a BNLJ;
    - odds snapshots LEFT-join the chosen game (right-outer with the
      1-row game broadcast), so a game with no collected odds still
      returns its context row with NULL odds — the reference renders
      the same embed with zero odds fields;
    - both LIMIT cuts carry explicit tie-breaks (fixture id;
      bookmaker DESC) where the reference relies on scan order.

    Scale shape: teams/matched are broadcast; the only full-table
    work is one scan of fixtures (semi-join probe + kickoff filter →
    TakeOrderedAndProject top-1) and one scan of odds_history for the
    point lookup. On a real deployment the odds scan prunes via a
    partitioned layout (sources/partitions.py); at any scale nothing
    here shuffles more than the candidate set.
    """
    matched = teams.filter(F.col("name").like(f"%{team_like}%")).select(
        F.col("id").alias("__m_id")
    )
    home_hit = fixtures.join(
        F.broadcast(matched), fixtures.home_team_id == matched.__m_id, "left_semi"
    )
    away_hit = fixtures.join(
        F.broadcast(matched), fixtures.away_team_id == matched.__m_id, "left_semi"
    )
    ht = teams.select(F.col("id").alias("__ht_id"), F.col("name").alias("home_team"))
    at = teams.select(F.col("id").alias("__at_id"), F.col("name").alias("away_team"))
    lg = leagues.select(
        F.col("id").alias("__lg_id"),
        F.col("season").alias("__lg_season"),
        F.col("name").alias("league"),
    )
    next_game = (
        home_hit.unionByName(away_hit)
        .dropDuplicates(["id"])
        .filter(F.col("kickoff_utc") > now)
        .orderBy("kickoff_utc", "id")
        .limit(1)
        .join(F.broadcast(ht), F.col("home_team_id") == F.col("__ht_id"))
        .join(F.broadcast(at), F.col("away_team_id") == F.col("__at_id"))
        .join(
            F.broadcast(lg),
            (F.col("league_id") == F.col("__lg_id"))
            & (F.col("season") == F.col("__lg_season")),
        )
        .select(
            F.col("id").alias("__fx_id"),
            "kickoff_utc",
            "home_team",
            "away_team",
            "league",
        )
    )
    # two-step attach: an INNER broadcast join may build on either
    # side, so the 1-row game broadcasts against the odds scan; the
    # no-odds context row is then restored by a right-outer join
    # between two tiny relations (≤ n_snapshots rows vs 1 row). A
    # direct game-LEFT-JOIN-odds would force the BIG side to build
    # (left-outer broadcasts right only) and a right-outer with the
    # game as build side is unsupported — either way a full shuffle.
    h2h = odds_history.filter(F.col("market_type") == "h2h")
    odds_top = (
        h2h.join(
            F.broadcast(next_game.select("__fx_id")),
            h2h.fixture_id == F.col("__fx_id"),
        )
        .drop("__fx_id")
        .orderBy(F.desc("collected_at"), F.desc("bookmaker"))
        .limit(n_snapshots)
    )
    return (
        F.broadcast(odds_top)
        .join(next_game, odds_top.fixture_id == next_game.__fx_id, "right")
        .select(
            F.col("__fx_id").alias("fixture_id"),
            "kickoff_utc",
            "home_team",
            "away_team",
            "league",
            "bookmaker",
            "collection_phase",
            "market_type",
            "home_odds",
            "draw_odds",
            "away_odds",
            "collected_at",
        )
    )


def team_stats_trend(team_statistics: DataFrame, team_id: Column) -> DataFrame:
    """The Team Analysis page's "Performance Trends" series
    (/root/reference/streamlit_dashboard.py:444-497): every
    team_statistics snapshot for one team over collection_date —
    win_percentage, goals for/against, matches_played — ordered for
    charting. The reference charts exactly this point query
    (``WHERE team_id = ? ORDER BY collection_date``).

    Tie-break divergence (deliberate): the reference orders by
    collection_date alone, nondeterministic when one collection day
    holds snapshots for several leagues; the series here carries
    league_id and breaks ties on (league_id, created_at).

    Scale shape: the team_id equality predicate and the five-column
    projection both push to the parquet scan (PushedFilters +
    ReadSchema); what survives is one team's snapshots — dim-scale —
    so the presentation sort is a TakeOrdered-sized no-op. No join,
    no window, no shuffle of anything bigger than the one team's
    series at any corpus size.
    """
    return (
        team_statistics.filter(F.col("team_id") == team_id)
        .orderBy("collection_date", "league_id", "created_at")
        .select(
            "team_id",
            "league_id",
            "collection_date",
            "win_percentage",
            "goals_for",
            "goals_against",
            "matches_played",
        )
    )


def league_teams(
    teams: DataFrame,
    leagues: DataFrame,
    fixtures: DataFrame,
    league_id: int | None = None,
) -> DataFrame:
    """The teams-per-league roster behind the dashboard's team picker
    and the ``!league`` bar chart
    (/root/reference/streamlit_dashboard.py:56-71 ``get_teams``,
    discord_integration.py:335-352): every team that appears in a
    league's fixtures (either role), with its game count in that
    league. ``league_id=None`` lists all leagues (the dashboard's
    unfiltered picker).

    Divergence (deliberate): the reference's ``SELECT DISTINCT t.*``
    over the team⋈fixture⋈league join silently drops teams with zero
    fixtures from per-league listings and collapses the join
    multiplicity; here the roster is an explicit per-(league, team)
    aggregate whose ``n_games`` REPLACES that multiplicity with a
    meaningful count — what the bar chart actually needs.

    Scale shape: fixtures scan → explode both roles (a 2-row array,
    no shuffle) → one (league_id, season, team_id) hash aggregate
    (high-cardinality composite key, spreads evenly, map-side
    combine) → two broadcast dim joins. The optional league filter
    pushes to the scan.
    """
    if league_id is not None:
        fixtures = fixtures.filter(F.col("league_id") == league_id)
    roles = fixtures.select(
        "league_id",
        "season",
        F.explode(F.array("home_team_id", "away_team_id")).alias("team_id"),
    )
    roster = roles.groupBy("league_id", "season", "team_id").agg(
        F.count("*").alias("n_games")
    )
    t = teams.select(F.col("id").alias("__t_id"), F.col("name").alias("team_name"))
    lg = leagues.select(
        F.col("id").alias("__lg_id"),
        F.col("season").alias("__lg_season"),
        F.col("name").alias("league_name"),
    )
    return (
        roster.join(F.broadcast(t), roster.team_id == t.__t_id)
        .join(
            F.broadcast(lg),
            (roster.league_id == lg.__lg_id) & (roster.season == lg.__lg_season),
        )
        .select(
            "league_id",
            "season",
            "league_name",
            "team_id",
            "team_name",
            "n_games",
        )
    )
