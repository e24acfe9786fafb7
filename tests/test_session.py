"""SparkSession factory defaults that do not need a JVM."""

from __future__ import annotations

import os

from qpmodel_spark import session


def test_driver_mem_fits_the_host(monkeypatch):
    """The default heap is 48g capped at half the physical memory, so a
    local JVM cannot grow past the host's RAM; the env var still wins."""
    page = 4096

    def host(gb):
        pages = gb * 2**30 // page
        return lambda name: page if name == "SC_PAGE_SIZE" else pages

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sysconf", host(16))
    assert session._driver_mem() == "8192m"
    monkeypatch.setattr(os, "sysconf", host(256))
    assert session._driver_mem() == f"{48 * 1024}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    assert session._driver_mem() == "4g"
