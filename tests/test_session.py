"""Session defaults fit the host they run on (functions/session.py)."""

from __future__ import annotations

import os

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _size_bytes(spec: str) -> int:
    spec = spec.strip().lower().rstrip("b")
    if spec[-1] in _UNITS:
        return int(spec[:-1]) * _UNITS[spec[-1]]
    return int(spec) * 2**20  # JVM memory settings default to MiB


def test_driver_memory_fits_physical_ram(spark):
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _size_bytes(heap) <= ram, f"driver heap {heap} > RAM {ram} B"
