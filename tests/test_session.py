"""Session defaults that depend on the host."""

from __future__ import annotations

import os

from ploverdb_spark import session


def test_default_driver_memory_fits_physical_ram(monkeypatch):
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = session._default_driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) < phys_mb
    # a 1 TiB host is capped at 48g
    host = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 2**40 // 4096}
    monkeypatch.setattr(os, "sysconf", host.__getitem__)
    assert session._default_driver_memory() == "49152m"
