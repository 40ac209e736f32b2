"""Seeded collection-document generator for the ``odds_ingest`` workload.

Documents follow the bronze collection shape (FIXTURES.md §B): a
``game_info`` header and a ``data`` payload carrying one
``odds_<phase>`` Odds-API object (8-36 bookmakers x 1-4 markets, the
fourth being ``h2h_lay``), two 16-player lineups (11 starters + 5
substitutes), home and away team statistics and a head-to-head
history. The pool of leagues, teams and fixtures is one day's volume at
the top of BASELINE.md's range (5 leagues, 40 teams, 30 fixtures), so
later batches re-collect fixtures, teams, leagues and players that
earlier batches already landed and both dim upsert paths (replace and
insert-if-absent) hit existing keys.

The generator is pure Python and deterministic: the same seed gives
byte-identical batch files. ``Expected`` accumulates the silver row
counts, dim key sets and dashboard totals the pipeline must produce.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field

PHASES = ("early_odds", "pre_match", "team_news", "final_data")
#: collection_type -> the data.odds_<key> the payload lands under
#: (sources/ingest.py ODDS_PHASES)
PHASE_KEY = {
    "early_odds": "early",
    "pre_match": "pre_match",
    "team_news": "team_news",
    "final_data": "final_data",
}
#: BASELINE.md: "36 bookmakers x up to 4 markets"; FIXTURES.md: the
#: unknown ``h2h_lay`` key occurs in live data and lands all-NULL odds
MARKETS = ("h2h", "spreads", "totals", "h2h_lay")
BOOKMAKERS = tuple(f"Bookmaker {i:02d}" for i in range(1, 37))
COUNTRIES = ("England", "Spain", "Italy", "Germany", "France")
FORMATIONS = ("4-3-3", "4-4-2", "4-2-3-1", "3-5-2")
#: collection timeline start; every document falls in the 2025 season
#: (derive_season: month >= 8), so fixture and league seasons agree
T0 = dt.datetime(2025, 9, 1, 12, 0, tzinfo=dt.timezone.utc)
BATCH_STEP = dt.timedelta(minutes=30)  # the production collection cadence


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def season_of(t: dt.datetime) -> int:
    return t.year if t.month >= 8 else t.year - 1


@dataclass
class Expected:
    """What the silver tables and the dashboard must hold after the
    batches landed so far."""

    odds_history: int = 0
    lineups: int = 0
    team_statistics: int = 0
    head_to_head: int = 0
    teams: set = field(default_factory=set)
    leagues: set = field(default_factory=set)  # (id, season)
    fixtures: set = field(default_factory=set)
    players: set = field(default_factory=set)
    league_names: set = field(default_factory=set)  # (name, country)

    def row_counts(self) -> dict[str, int]:
        return {
            "odds_history": self.odds_history,
            "lineups": self.lineups,
            "team_statistics": self.team_statistics,
            "head_to_head": self.head_to_head,
            "teams": len(self.teams),
            "leagues": len(self.leagues),
            "fixtures": len(self.fixtures),
            "players": len(self.players),
        }

    def dashboard_stats(self) -> dict[str, int]:
        return {
            "total_fixtures": len(self.fixtures),
            "total_odds_records": self.odds_history,
            "active_leagues": len(self.league_names),
        }


class DocGenerator:
    """Yields one micro-batch of collection documents at a time."""

    def __init__(self, seed: int, docs_per_batch: int, n_fixtures: int = 30, n_leagues: int = 5) -> None:
        self.rng = random.Random(seed)
        self.docs_per_batch = docs_per_batch
        self.expected = Expected()
        self.batches = 0
        rng = self.rng
        self.leagues = [
            (100 + i, f"League {i}", COUNTRIES[i % len(COUNTRIES)]) for i in range(n_leagues)
        ]
        # 8 teams per league, each with a fixed 16-player squad
        self.teams = {}
        for lid, _, _ in self.leagues:
            for k in range(8):
                tid = lid * 100 + k
                self.teams[tid] = (f"Team {tid}", lid)
        self.fixtures = []
        for i in range(n_fixtures):
            lid, lname, country = self.leagues[i % len(self.leagues)]
            home, away = rng.sample([t for t, v in self.teams.items() if v[1] == lid], 2)
            kickoff = T0 + dt.timedelta(hours=rng.randint(6, 72))
            self.fixtures.append((900_000 + i, lid, home, away, kickoff))

    def _odds(self, home: str, away: str, when: dt.datetime) -> dict:
        rng = self.rng
        bookmakers = []
        for title in rng.sample(BOOKMAKERS, rng.randint(8, 36)):
            markets = []
            for key in rng.sample(MARKETS, rng.randint(1, 4)):
                if key in ("h2h", "h2h_lay"):
                    outcomes = [
                        {"name": home, "price": round(rng.uniform(1.2, 6.0), 2)},
                        {"name": "Draw", "price": round(rng.uniform(2.5, 5.0), 2)},
                        {"name": away, "price": round(rng.uniform(1.2, 6.0), 2)},
                    ]
                elif key == "spreads":
                    point = rng.choice((0.5, 1.0, 1.5))
                    outcomes = [
                        {"name": home, "price": round(rng.uniform(1.7, 2.2), 2), "point": -point},
                        {"name": away, "price": round(rng.uniform(1.7, 2.2), 2), "point": point},
                    ]
                else:
                    total = rng.choice((1.5, 2.5, 3.5))
                    outcomes = [
                        {"name": "Over", "price": round(rng.uniform(1.6, 2.4), 2), "point": total},
                        {"name": "Under", "price": round(rng.uniform(1.6, 2.4), 2), "point": total},
                    ]
                markets.append({"key": key, "last_update": _iso(when), "outcomes": outcomes})
            bookmakers.append(
                {"key": title.lower().replace(" ", "_"), "title": title,
                 "last_update": _iso(when), "markets": markets}
            )
        self.expected.odds_history += sum(len(b["markets"]) for b in bookmakers)
        return {"home_team": home, "away_team": away, "bookmakers": bookmakers}

    def _lineup(self, tid: int) -> dict:
        players = [tid * 100 + k for k in range(16)]
        self.expected.players.update(players)
        self.expected.lineups += len(players)
        return {
            "team": {"id": tid, "name": self.teams[tid][0]},
            "formation": self.rng.choice(FORMATIONS),
            "startXI": [
                {"player": {"id": p, "name": f"Player {p}", "pos": "GDMF"[min(k, 3)], "captain": k == 0}}
                for k, p in enumerate(players[:11])
            ],
            "substitutes": [
                {"player": {"id": p, "name": f"Player {p}", "pos": "DMF"[k % 3]}}
                for k, p in enumerate(players[11:])
            ],
        }

    def _stats(self) -> dict:
        rng = self.rng
        played = rng.randint(5, 30)
        wins = rng.randint(0, played)
        draws = rng.randint(0, played - wins)

        def split(n: int) -> dict:
            h = rng.randint(0, n)
            return {"home": h, "away": n - h, "total": n}

        self.expected.team_statistics += 1
        return {
            "response": {
                "fixtures": {
                    "played": split(played),
                    "wins": split(wins),
                    "draws": split(draws),
                    "loses": split(played - wins - draws),
                },
                "goals": {
                    "for": {"total": split(rng.randint(0, 3 * played))},
                    "against": {"total": split(rng.randint(0, 3 * played))},
                },
            }
        }

    def _h2h(self, home: int, away: int, lid: int) -> dict:
        rng = self.rng
        items = []
        for k in range(rng.randint(1, 5)):
            day = T0 - dt.timedelta(days=rng.randint(30, 900))
            h, a = (home, away) if k % 2 == 0 else (away, home)
            items.append(
                {
                    "fixture": {"id": rng.randint(1, 10**6), "date": _iso(day)},
                    "teams": {
                        "home": {"id": h, "name": self.teams[h][0]},
                        "away": {"id": a, "name": self.teams[a][0]},
                    },
                    "goals": {"home": rng.randint(0, 5), "away": rng.randint(0, 5)},
                    "league": {"id": lid},
                }
            )
        self.expected.head_to_head += len(items)
        return {"response": items}

    def next_batch(self) -> bytes:
        """The next micro-batch as one JSON array (a multi-line JSON
        file the bronze stream reads as one row per document)."""
        b = self.batches
        self.batches += 1
        docs = []
        for i in range(self.docs_per_batch):
            fid, lid, home, away, kickoff = self.rng.choice(self.fixtures)
            when = T0 + b * BATCH_STEP + dt.timedelta(seconds=i)
            phase = PHASES[(b + i) % len(PHASES)]
            lname, country = next((n, c) for i_, n, c in self.leagues if i_ == lid)
            hname, aname = self.teams[home][0], self.teams[away][0]
            ex = self.expected
            ex.teams.update((home, away))
            ex.leagues.add((lid, season_of(when)))
            ex.fixtures.add(fid)
            ex.league_names.add((lname, country))
            docs.append(
                {
                    "fixture_id": fid,
                    "collection_type": phase,
                    "collected_at": _iso(when),
                    "game_info": {
                        "fixture_id": fid,
                        "kickoff_utc": _iso(kickoff),
                        "home_team": hname,
                        "away_team": aname,
                        "home_team_id": home,
                        "away_team_id": away,
                        "league": lname,
                        "league_id": lid,
                        "country": country,
                        "venue": f"Stadium {home}",
                        "priority": "high",
                        "timezone": "UTC",
                    },
                    "data": {
                        f"odds_{PHASE_KEY[phase]}": self._odds(hname, aname, when),
                        "lineups": {"response": [self._lineup(home), self._lineup(away)]},
                        "home_team_stats": self._stats(),
                        "away_team_stats": self._stats(),
                        "head_to_head": self._h2h(home, away, lid),
                    },
                }
            )
        return json.dumps(docs, sort_keys=True, separators=(",", ":")).encode()

    def history_batch(self) -> bytes:
        """A batch that stands for earlier collections whose dims are
        already stored: it counts toward the dim key sets only, since
        its facts are never landed."""
        ex = self.expected
        facts = (ex.odds_history, ex.lineups, ex.team_statistics, ex.head_to_head)
        data = self.next_batch()
        ex.odds_history, ex.lineups, ex.team_statistics, ex.head_to_head = facts
        return data

    def now(self) -> dt.datetime:
        """The dashboard's clock: the last landed collection instant."""
        return T0 + (self.batches - 1) * BATCH_STEP + dt.timedelta(seconds=self.docs_per_batch)
