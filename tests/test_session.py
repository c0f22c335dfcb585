"""The session factory's derived defaults, checked without a JVM."""

from __future__ import annotations

import os

import pytest

from postgres_cdc_plugin_spark import session

GIB = 2**30


@pytest.mark.parametrize(
    "phys, want",
    [
        (16 * GIB, "8192m"),
        (15.7 * GIB, f"{int(15.7 * GIB) // 2 // 2**20}m"),
        (64 * GIB, "32g"),
        (512 * GIB, "32g"),
    ],
)
def test_default_driver_memory_is_half_of_physical_capped_at_32g(
    monkeypatch, phys, want
):
    pages = int(phys) // 4096
    sysconf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": pages}
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    assert session.default_driver_memory() == want


def test_default_driver_memory_without_sysconf(monkeypatch):
    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unsupported)
    assert session.default_driver_memory() == "32g"
