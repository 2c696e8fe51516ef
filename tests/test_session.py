"""Session defaults sized from the machine (no Spark needed)."""

from __future__ import annotations

import os

import pytest

from dedupe_spark import session


@pytest.mark.parametrize(
    "ram_gib, expected",
    [(15, "7g"), (64, "24g"), (1, "1g")],
)
def test_driver_mem_is_half_of_physical_ram(monkeypatch, ram_gib, expected):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    page = 4096
    values = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (ram_gib << 30) // page}
    monkeypatch.setattr(os, "sysconf", values.__getitem__)
    assert session.default_driver_mem() == expected


def test_driver_mem_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    monkeypatch.setattr(os, "sysconf", lambda name: 1 << 40)
    assert session.default_driver_mem() == "3g"
