"""Session defaults that depend on the host."""

from __future__ import annotations

import os

import pytest

from encodesrv_spark.session import default_driver_memory


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo")
def test_default_driver_memory_fits_host():
    with open("/proc/meminfo") as f:
        total_mb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:")) // 1024
    got = default_driver_memory()
    assert got.endswith("m")
    assert 0 < int(got[:-1]) <= min(16 * 1024, total_mb // 2)
