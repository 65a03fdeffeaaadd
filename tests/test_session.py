"""Default driver heap of ``session.get_spark``, checked without a session."""

from __future__ import annotations

import os

from entropy_balance_weighting_spark.session import driver_memory

PAGE = 4096


def _host(monkeypatch, ram_bytes):
    sizes = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": ram_bytes // PAGE}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def test_default_heap_is_half_of_a_small_host(monkeypatch):
    _host(monkeypatch, 15 * 2**30)
    assert driver_memory() == "7680m"


def test_default_heap_is_capped_at_32g(monkeypatch):
    _host(monkeypatch, 128 * 2**30)
    assert driver_memory() == "32768m"


def test_env_pin_wins(monkeypatch):
    _host(monkeypatch, 15 * 2**30)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert driver_memory() == "2g"


def test_unknown_sysconf_falls_back_to_32g(monkeypatch):
    def unknown(name):
        raise ValueError(f"unrecognized configuration name {name}")

    monkeypatch.setattr(os, "sysconf", unknown)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory() == "32g"
