"""The session profile's driver heap default is sized to the host."""

import os

import pytest

from char_ner_spark import session


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo")
def test_driver_memory_default_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    got = session.driver_memory()
    assert got.endswith("m")
    assert 0 < int(got[:-1]) <= min(total_kib // 2048, 16 << 10)


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.driver_memory() == "2g"
