"""Session sizing: the driver heap and core count follow the host unless
the environment overrides them."""

from __future__ import annotations

from codepropertygraph_spark import session


def _mem_total_mib() -> int:
    with open("/proc/meminfo") as fh:
        kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return kib // 1024


def test_driver_memory_derives_from_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = session.driver_memory()
    assert heap.endswith("m")
    total = _mem_total_mib()
    assert total // 2 < int(heap[:-1]) < total


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"


def test_host_cpus_default_and_override(monkeypatch):
    import os

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.host_cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.host_cpus() == 3
