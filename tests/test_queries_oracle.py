"""The main correctness gate: every registered query vs its DuckDB
oracle — the same comparison the driver runs at sf0.01.

The scale factor is whatever ``SPARK_GRAFT_TEST_SF_DIR`` points at
(see conftest.SF_DIR; defaults to /root/testdata/sf0.001). CI habit:
run with SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to match the
driver exactly.
"""

from __future__ import annotations

import pytest

import football_data_pipeline_spark.all_queries  # noqa: F401
from football_data_pipeline_spark.registry import QUERIES

from .conftest import SF_DIR, assert_matches_oracle

#: queries whose result set is legitimately empty at small SF (the
#: data simply has no qualifying rows) — everything else must return
#: rows, so a both-engines-empty regression can't read green
#: (ADVICE r6, conftest.assert_matches_oracle expect_nonempty)
EXPECTED_EMPTY_OK: set[str] = set()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    """Also: the query leaves no frame in Spark's CacheManager — many
    queries share one long-lived driver session, so a cache must not
    outlive the query that made it (functions/materialize.py)."""
    spark.catalog.clearCache()
    q = QUERIES[name]
    df = q.fn(spark, SF_DIR)
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors the driver
    else:
        assert_matches_oracle(
            df, duck, q.oracle, name=name,
            expect_nonempty=name not in EXPECTED_EMPTY_OK,
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left cached frames in the session"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))
