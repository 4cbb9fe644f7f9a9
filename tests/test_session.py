"""Session defaults follow the host they run on."""

from __future__ import annotations

import os
import re

from codingchallenge_spark import session

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _bytes(size: str) -> int:
    m = re.fullmatch(r"(\d+)([kmgt])?b?", size.strip().lower())
    assert m, size
    return int(m.group(1)) * _UNITS.get(m.group(2), 1)


class _Builder:
    """Records the conf build_session would launch the JVM with."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return object()


def _local_conf(monkeypatch) -> dict[str, str]:
    builder = _Builder()
    monkeypatch.setattr(
        session, "SparkSession", type("S", (), {"builder": builder})
    )
    monkeypatch.setattr(session, "ship_package", lambda _spark: None)
    monkeypatch.setenv("CCSPARK_LOCAL_DIR", "")  # skip the tmpfs probe
    session.build_session(master="local[2]")
    return builder.conf


def test_default_driver_heap_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("CCSPARK_DRIVER_MEMORY", raising=False)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _bytes(_local_conf(monkeypatch)["spark.driver.memory"])
    assert 0 < heap <= ram // 2, (heap, ram)


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("CCSPARK_DRIVER_MEMORY", "3g")
    assert _local_conf(monkeypatch)["spark.driver.memory"] == "3g"
