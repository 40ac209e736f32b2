"""The driver heap default follows the box: a quarter of MemTotal in
whole MiB, capped at 8g (``session.driver_memory``)."""

from __future__ import annotations

from football_data_pipeline_spark.session import driver_memory


def _meminfo(kib: int) -> str:
    return f"MemTotal:       {kib} kB\nMemFree:         1024 kB\n"


def test_driver_memory_is_a_quarter_of_the_box_capped_at_8g():
    assert driver_memory(_meminfo(16 * 1024 * 1024)) == "4096m"
    assert driver_memory(_meminfo(64 * 1024 * 1024)) == "8g"
    assert driver_memory("MemFree: 1024 kB\n") == "8g"
