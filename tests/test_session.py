"""Session sizing: the local-mode defaults must fit the host."""

from __future__ import annotations

import re

_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def test_driver_memory_fits_host(spark):
    """The driver heap must not exceed the host's physical memory — a
    fixed 48g default got the JVM OOM-killed on a 15 GB host."""
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    num, unit = re.fullmatch(r"(\d+)([kmgt]?)b?", conf.lower()).groups()
    driver_mb = int(num) * _UNIT_MB[unit or "m"]
    with open("/proc/meminfo") as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    assert driver_mb <= kib / 1024
