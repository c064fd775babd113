"""Session defaults derived from the host."""

from __future__ import annotations

import os

from ab_metadata_pusher_spark.session import (
    DEFAULT_CONFIG, driver_memory_for,
)

GIB = 2 ** 30


def test_driver_memory_is_half_of_ram_capped_at_48g():
    assert driver_memory_for(15 * GIB + 700 * 2 ** 20) == "7g"  # 15.7 GiB
    assert driver_memory_for(16 * GIB) == "8g"
    assert driver_memory_for(96 * GIB) == "48g"
    assert driver_memory_for(128 * GIB) == "48g"  # the cap
    assert driver_memory_for(1024 * GIB) == "48g"
    assert driver_memory_for(GIB) == "1g"  # never below 1g
    assert driver_memory_for(0) == "1g"


def test_default_driver_memory_comes_from_env_or_host():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    expected = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                              driver_memory_for(ram))
    assert DEFAULT_CONFIG["spark.driver.memory"] == expected
