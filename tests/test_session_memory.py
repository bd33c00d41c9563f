"""The default driver heap: a quarter of the machine's memory, capped at
8g, sized from /proc/meminfo text by a pure function (no Spark here)."""

from __future__ import annotations

import pytest

from nyc_taxi_dataset_analysis_apache_hive_spark.session import (
    default_driver_memory,
)


def _meminfo(total_kb: int) -> str:
    return (
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1000000 kB\n"
        "MemAvailable:    2000000 kB\n"
    )


@pytest.mark.parametrize(
    "meminfo, heap",
    [
        (_meminfo(16 * 1024 * 1024), "4096m"),  # a quarter of 16 GiB
        (_meminfo(16456384), "4017m"),  # a "16 GB" VM's MemTotal
        (_meminfo(256 * 1024 * 1024), "8192m"),  # capped at 8g
        (_meminfo(2 * 1024 * 1024), "1024m"),  # 1g floor
        ("", "8192m"),  # no /proc/meminfo
        ("MemFree: 10 kB\n", "8192m"),  # no MemTotal line
    ],
    ids=["16GiB", "16GB-vm", "cap", "floor", "no-meminfo", "no-memtotal"],
)
def test_default_driver_memory(meminfo, heap):
    assert default_driver_memory(meminfo) == heap
