"""Default driver-heap sizing in session.py (pure Python, no JVM)."""

from __future__ import annotations

import os

from tapdata_connectors_spark import session
from tapdata_connectors_spark.session import _default_driver_mem

GIB = 1024 ** 3


def test_small_hosts_get_formula_heap_below_ram():
    # floor(0.75 * RAM / 1.40) in MiB: Spark's 75% provisioning ceiling,
    # divided by 1 + the 0.40 non-JVM memory overhead factor
    for phys, want in ((16_874_930_176, "8621m"), (16 * GIB, "8777m")):
        assert _default_driver_mem(phys) == want
        assert int(want[:-1]) == int(0.75 * phys / 1.40 / 2 ** 20)
        assert int(want[:-1]) * 2 ** 20 < phys


def test_large_hosts_keep_16g_cap():
    assert _default_driver_mem(64 * GIB) == "16g"
    assert _default_driver_mem(30 * GIB) == "16g"


def test_explicit_env_passes_through(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    assert session._driver_mem() == "48g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert session._driver_mem() == _default_driver_mem(phys)
