"""Session defaults come from the box unless the environment sets them."""

from __future__ import annotations

import os

from tera_spark import session


def test_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("TERA_SPARK_DRIVER_MEM", "3g")
    assert session.box_cpus() == "32"
    assert session.box_driver_memory() == "3g"


def test_cpus_default_to_the_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2}, raising=False)
    assert session.box_cpus() == "3"


def test_heap_defaults_to_half_the_ram_capped(monkeypatch):
    monkeypatch.delenv("TERA_SPARK_DRIVER_MEM", raising=False)
    gib, page = 1 << 30, 4096

    def box(ram_gib):
        pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_gib * gib // page}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        return session.box_driver_memory()

    assert box(15) == "7g"   # half the RAM
    assert box(64) == "16g"  # capped at 16g
    assert box(1) == "1g"    # never below 1g
