"""The committed driver-check order (football_data_pipeline_spark/
check_order.json) is the one tools/gen_check_order.py derives: a
permutation of the registry, sorted from the committed
CORRECTNESS_r*.json rows plus the recorded ``touched`` set, and that
set matches what ``git diff`` and the package import graph say now.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

import football_data_pipeline_spark.all_queries  # noqa: F401
from football_data_pipeline_spark.registry import DRIVER_CAP, ORDER_FILE, QUERIES, check_order

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import gen_check_order  # noqa: E402

REGEN = "run `python tools/gen_check_order.py` and commit check_order.json"


def _committed() -> dict:
    with open(ORDER_FILE) as f:
        return json.load(f)


def test_order_is_a_permutation_of_queries():
    order = check_order()
    assert len(order) == len(QUERIES) and set(order) == set(QUERIES)


def test_order_recomputes_from_committed_rows():
    committed = _committed()
    last, newest = gen_check_order.last_green()
    expected = gen_check_order.order(list(QUERIES), last, newest, set(committed["touched"]), DRIVER_CAP)
    assert committed["order"] == expected, REGEN


@pytest.mark.skipif(
    not os.path.exists(os.path.join(ROOT, ".git")),
    reason="needs git history: the touched set is a git diff against the CORRECTNESS commits",
)
def test_recorded_touched_matches_git_diff():
    last, _ = gen_check_order.last_green()
    assert set(_committed()["touched"]) == gen_check_order.derive_touched(last), REGEN


def test_transitive_import_marks_query_touched():
    # paired.py → release.py → dedup.py: a dedup change must re-check
    # q_pair_curation even though its own module is unchanged
    last, _ = gen_check_order.last_green()
    query_modules = {n: q.fn.__module__ for n, q in QUERIES.items()}
    changed = {rnd: {"football_data_pipeline_spark.operators.dedup"} for rnd in set(last.values())}
    touched = gen_check_order.touched_queries(query_modules, gen_check_order.import_graph(), last, changed)
    assert query_modules["q_pair_curation"] == "football_data_pipeline_spark.operators.paired"
    assert {"q_pair_curation", "q_dedup_minhash"} <= touched
    assert "q_star_join" not in touched
