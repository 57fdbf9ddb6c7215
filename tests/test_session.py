"""The session factory's host-sized settings (no Spark started)."""

from __future__ import annotations

from parquet_demo_spark.session import driver_memory

GiB = 2**30


def test_driver_memory_is_half_the_host_within_2_to_48g():
    assert driver_memory(16 * GiB) == "8g"
    assert driver_memory(15_600_000_000) == "7g"  # rounds down
    assert driver_memory(2 * GiB) == "2g"  # floor
    assert driver_memory(512 * GiB) == "48g"  # cap
    assert driver_memory().endswith("g")  # this machine's memory
