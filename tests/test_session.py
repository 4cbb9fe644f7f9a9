"""Session defaults follow the host they run on."""

from __future__ import annotations

import os
import re

import pytest

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


def _fake_host(monkeypatch, ram: int, shm_free: int) -> None:
    """A host with ``ram`` bytes of physical memory and ``shm_free`` bytes
    free in /dev/shm (nothing under /dev/shm is reaped)."""
    page = 4096
    monkeypatch.setattr(
        session.os, "sysconf",
        lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram // page}[name],
    )
    monkeypatch.setattr(
        session.shutil, "disk_usage",
        lambda _path: type("Usage", (), {"free": shm_free})(),
    )
    monkeypatch.setattr(session, "_reap_stale_local_dirs", lambda _root: None)
    monkeypatch.setattr(session.Path, "mkdir", lambda *_a, **_k: None)


def _shuffle_dir(monkeypatch, heap: str | None) -> str | None:
    if heap is None:
        monkeypatch.delenv("CCSPARK_DRIVER_MEMORY", raising=False)
    else:
        monkeypatch.setenv("CCSPARK_DRIVER_MEMORY", heap)
    monkeypatch.delenv("CCSPARK_LOCAL_DIR", raising=False)
    builder = _Builder()
    monkeypatch.setattr(
        session, "SparkSession", type("S", (), {"builder": builder})
    )
    monkeypatch.setattr(session, "ship_package", lambda _spark: None)
    session.build_session(master="local[2]")
    return builder.conf.get("spark.local.dir")


def test_tmpfs_shuffle_only_when_heap_and_budget_fit_ram(monkeypatch):
    """/dev/shm has 16 GiB free in every case; tmpfs is picked only when
    the driver heap plus the 8 GiB shuffle budget fits in physical RAM."""
    if not os.path.isdir("/dev/shm"):
        pytest.skip("no /dev/shm on this host")
    gib = 1 << 30
    # 15 GiB host, default heap (half of RAM): 7.5 + 8 > 15 → disk
    _fake_host(monkeypatch, ram=15 * gib, shm_free=16 * gib)
    assert _shuffle_dir(monkeypatch, None) is None
    assert _shuffle_dir(monkeypatch, "8g") is None
    # a small heap leaves room for the budget on the same host
    assert _shuffle_dir(monkeypatch, "4g").startswith("/dev/shm/")
    assert _shuffle_dir(monkeypatch, "7168m").startswith("/dev/shm/")
    # 64 GiB host, default heap 32 GiB: fits
    _fake_host(monkeypatch, ram=64 * gib, shm_free=16 * gib)
    assert _shuffle_dir(monkeypatch, None).startswith("/dev/shm/")
    # RAM fits but /dev/shm lacks the budget
    _fake_host(monkeypatch, ram=64 * gib, shm_free=4 * gib)
    assert _shuffle_dir(monkeypatch, "4g") is None


def test_local_dir_override_skips_tmpfs(monkeypatch):
    gib = 1 << 30
    _fake_host(monkeypatch, ram=64 * gib, shm_free=16 * gib)
    monkeypatch.setenv("CCSPARK_LOCAL_DIR", "/some/disk/dir")
    builder = _Builder()
    monkeypatch.setattr(
        session, "SparkSession", type("S", (), {"builder": builder})
    )
    monkeypatch.setattr(session, "ship_package", lambda _spark: None)
    session.build_session(master="local[2]")
    assert builder.conf["spark.local.dir"] == "/some/disk/dir"


def test_size_bytes_reads_jvm_sizes():
    assert session._size_bytes("512m") == 512 << 20
    assert session._size_bytes("8G") == 8 << 30
    assert session._size_bytes("2048") == 2048 << 20
    assert session._size_bytes("1t") == 1 << 40
