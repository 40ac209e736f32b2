"""The crash-safe table rewrite (sources/sinks.rewrite_table) that
serves the keyed upsert and the keyed delete at table grain: results,
crash leftovers, the crash-window orphan, the ``_delta_log`` refusal.
"""

from __future__ import annotations

import pytest

from football_data_pipeline_spark.operators.upsert import delete_where, upsert_replace
from football_data_pipeline_spark.sources.sinks import rewrite_table

SCHEMA = "id long, name string, priority int"
BASE = [(1, "old-one", 0), (2, "old-two", 0), (3, "old-three", 0)]
DELTA = [(2, "new-two", 1), (2, "newer-two", 2), (4, "new-four", 1)]
# expected after upsert: 2 replaced by its latest delta row, 4 added
EXPECT_UPSERT = {(1, "old-one", 0), (2, "newer-two", 2), (3, "old-three", 0), (4, "new-four", 1)}


def _write_base(spark, path):
    spark.createDataFrame(BASE, SCHEMA).write.mode("overwrite").parquet(path)


def _state(spark, path):
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def _upsert(spark, path):
    delta = spark.createDataFrame(DELTA, SCHEMA)
    rewrite_table(spark, path, lambda base: upsert_replace(base, delta, ["id"], ["priority"]))


def _delete(spark, path, cond):
    from pyspark.sql import functions as F

    cond = F.expr(cond) if isinstance(cond, str) else cond
    rewrite_table(spark, path, lambda base: delete_where(base, cond))


def test_merge_upsert_fallback_path(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_base(spark, path)
    _upsert(spark, path)
    assert _state(spark, path) == EXPECT_UPSERT


def test_merge_delete_fallback_path(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _write_base(spark, path)
    _delete(spark, path, F.col("id") == 2)
    assert _state(spark, path) == {(1, "old-one", 0), (3, "old-three", 0)}
    # string predicate form + NULL-safe keep
    _delete(spark, path, "name = 'no-such-row'")
    assert len(_state(spark, path)) == 2


def test_refuses_parquet_rewrite_on_delta_log(spark, tmp_path):
    """SAFETY RAIL: a path carrying a _delta_log must never take the
    plain-parquet rewrite (it would resurrect tombstoned rows and
    corrupt the log) — refuse loudly instead, and leave the table
    as it was."""
    import os

    path = str(tmp_path / "t")
    _write_base(spark, path)
    os.makedirs(f"{path}/_delta_log")
    with pytest.raises(RuntimeError, match="_delta_log|Delta"):
        _upsert(spark, path)
    with pytest.raises(RuntimeError, match="_delta_log|Delta"):
        _delete(spark, path, "id = 1")
    assert _state(spark, path) == set(BASE)


def test_swap_rewrite_cleans_crash_leftovers(spark, tmp_path):
    """The rewrite writes to a temp sibling then swaps. Leftover
    tmp/old dirs from a crashed prior attempt are cleaned, the merged
    state lands, and no sibling debris survives."""
    import os

    path = str(tmp_path / "t")
    _write_base(spark, path)
    # simulate a prior crashed attempt: stale tmp + old siblings
    for leftover in (path + ".__merge_tmp__", path + ".__merge_old__"):
        os.makedirs(leftover, exist_ok=True)
        with open(os.path.join(leftover, "junk.parquet"), "w") as f:
            f.write("not parquet")
    _upsert(spark, path)
    assert _state(spark, path) == EXPECT_UPSERT
    assert not os.path.exists(path + ".__merge_tmp__")
    assert not os.path.exists(path + ".__merge_old__")


def test_swap_rewrite_original_survives_heavy_write(spark, tmp_path):
    """The heavy write goes to the sibling while the original stays
    at its path: the rewrite's plan reads the original lazily during
    that write (an overwrite in place would delete the files it
    scans). Proxy assert: the path was swapped whole to the new
    state, and nothing but the table is left next to it."""
    import os

    path = str(tmp_path / "t")
    _write_base(spark, path)
    _delete(spark, path, "id = 1")
    assert _state(spark, path) == {(2, "old-two", 0), (3, "old-three", 0)}
    assert os.listdir(tmp_path) == ["t"]


def test_swap_crash_window_orphan_is_restored_not_deleted(spark, tmp_path):
    """A crash BETWEEN the two renames leaves the target missing and
    the sole copy at <path>.__merge_old__. Treating it as a leftover
    and deleting it would destroy the only surviving data; taking the
    missing path as "no table" would rebuild it from the new rows
    alone. The next rewrite must rename it back and operate on the
    restored state."""
    import os
    import shutil

    path = str(tmp_path / "t")
    _write_base(spark, path)
    # simulate the crash window
    shutil.move(path, path + ".__merge_old__")
    assert not os.path.exists(path)
    _delete(spark, path, "id = 99")  # matches no row
    assert _state(spark, path) == set(BASE)
    assert not os.path.exists(path + ".__merge_old__")

    # crash again; a merge must recover before it reads
    shutil.move(path, path + ".__merge_old__")
    _upsert(spark, path)
    assert _state(spark, path) == EXPECT_UPSERT
    assert not os.path.exists(path + ".__merge_old__")
