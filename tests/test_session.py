"""Session defaults that depend on the host."""

import os

from go_log_forwarder_spark import session


def _fake_ram(monkeypatch, total_bytes):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": total_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


def test_default_driver_memory_is_half_of_ram(monkeypatch):
    _fake_ram(monkeypatch, 15 << 30)  # a 15 GB host
    assert session.default_driver_memory() == f"{(15 << 30) // 2 >> 20}m"


def test_default_driver_memory_caps_at_32g(monkeypatch):
    _fake_ram(monkeypatch, 256 << 30)
    assert session.default_driver_memory() == f"{32 * 1024}m"
