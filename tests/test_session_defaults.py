"""Host-derived session defaults (session.py): the driver heap and the
local core count follow the host unless their environment variables
are set."""

from __future__ import annotations

import os

from warcsum_spark.session import default_cores, default_driver_memory


def test_driver_memory_defaults_to_half_of_memtotal(tmp_path, monkeypatch):
    monkeypatch.delenv("WARCSUM_DRIVER_MEM", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:         1000 kB\nMemTotal:       16456384 kB\n")
    assert default_driver_memory(str(meminfo)) == "8035m"


def test_driver_memory_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("WARCSUM_DRIVER_MEM", "2g")
    assert default_driver_memory(str(tmp_path / "absent")) == "2g"


def test_cores_default_to_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == str(os.cpu_count())
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == "3"
