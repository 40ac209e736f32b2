"""The streaming pipeline's foreachBatch body (silver_batch_writer)
called directly on batch DataFrames: the four keyed dim merges
(replace for teams, first-wins for leagues, fixtures and players)
across two batches, a replayed batch, and a crash between the two
renames of a dim's rewrite followed by the batch's replay.
"""

from __future__ import annotations

import copy
import json
import os

import pytest

from football_data_pipeline_spark.sources import sinks
from football_data_pipeline_spark.sources.ingest import read_collections
from football_data_pipeline_spark.streaming.pipeline import silver_batch_writer

from .test_flatten import MULTI_MARKET_DOC

DIMS = ["teams", "leagues", "fixtures", "players"]
SILVER = DIMS + ["odds_history", "team_statistics", "head_to_head", "lineups"]


def _second_collection() -> dict:
    """The same fixture collected a day later, with every dim
    attribute the merges decide on changed."""
    doc = copy.deepcopy(MULTI_MARKET_DOC)
    doc["collected_at"] = "2025-08-19T19:08:18Z"
    info = doc["game_info"]
    info["home_team"], info["venue"], info["league"] = "Arsenal FC", "Elsewhere", "EPL"
    doc["data"]["lineups"]["response"][0]["startXI"][0]["player"]["name"] = "Renamed"
    return doc


@pytest.fixture(scope="module")
def batches(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("bronze")
    out = []
    for i, doc in enumerate([MULTI_MARKET_DOC, _second_collection()]):
        (d / f"doc{i}.json").write_text(json.dumps(doc))
        out.append(read_collections(spark, str(d / f"doc{i}.json")))
    return out


def _dims(spark, root):
    return {
        t: sorted(repr(tuple(r)) for r in spark.read.parquet(f"{root}/{t}").collect())
        for t in DIMS
    }


class _CrashOnMoveIn:
    """A Hadoop FileSystem whose rename of a rewrite's new contents
    into place dies: the process crash between the two renames."""

    def __init__(self, fs):
        self._fs = fs

    def rename(self, src, dst):
        if src.getName().endswith(".__merge_tmp__"):
            raise RuntimeError("injected crash")
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_dim_merges_replay_and_crash(spark, tmp_path, batches, monkeypatch):
    first, second = batches

    clean = str(tmp_path / "clean")
    write = silver_batch_writer(clean)
    write(first, 0)
    write(second, 1)
    want = _dims(spark, clean)
    teams = {r.id: r.name for r in spark.read.parquet(f"{clean}/teams").collect()}
    assert teams == {42: "Arsenal FC", 49: "Chelsea"}  # replace
    [league] = spark.read.parquet(f"{clean}/leagues").collect()
    assert league.name == "Premier League"  # first wins
    [fixture] = spark.read.parquet(f"{clean}/fixtures").collect()
    assert fixture.venue_name == "Emirates"  # first wins
    players = {r.id: r.name for r in spark.read.parquet(f"{clean}/players").collect()}
    assert len(players) == 16 and players[100] == "Starter 0"  # first wins
    write(second, 1)  # replay
    assert _dims(spark, clean) == want
    assert sorted(os.listdir(clean)) == sorted(SILVER)

    crashed = str(tmp_path / "crashed")
    write = silver_batch_writer(crashed)
    write(first, 0)
    real_fs = sinks._fs

    def crashing_fs(spark, path):
        fs, hpath = real_fs(spark, path)
        return _CrashOnMoveIn(fs), hpath

    with monkeypatch.context() as m:
        m.setattr(sinks, "_fs", crashing_fs)
        with pytest.raises(RuntimeError, match="injected crash"):
            write(second, 1)
    # the crash hit the teams rewrite between its renames
    assert not os.path.exists(f"{crashed}/teams")
    assert os.path.isdir(f"{crashed}/teams.__merge_old__")
    write(second, 1)  # the restart replays the batch
    assert _dims(spark, crashed) == want
    assert sorted(os.listdir(crashed)) == sorted(SILVER)
