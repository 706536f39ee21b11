"""Session defaults come from the machine: local threads from the CPUs
this process may use, the driver heap from a share of physical memory,
with the environment variables still winning. No session is started."""

from __future__ import annotations

import os
from types import SimpleNamespace

from sport_advantages_moderne_data_infrastructure_spark import session


class _Builder:
    """Records what ``get_spark`` asks of ``SparkSession.builder``."""

    def __init__(self):
        self.conf, self.master_url = {}, None

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def master(self, url):
        self.master_url = url
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _lvl: None))


def _built(monkeypatch) -> _Builder:
    b = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=b))
    session.get_spark("sizing")
    return b


def test_session_sized_from_the_machine(monkeypatch):
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_GRAFT_ON_CLUSTER"):
        monkeypatch.delenv(var, raising=False)
    cpus = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert session.default_parallelism() == cpus
    mem = session.driver_memory()
    assert mem == f"{max(1024, int(phys * 0.3) >> 20)}m"
    b = _built(monkeypatch)
    assert b.master_url == f"local[{cpus}]"
    assert b.conf["spark.driver.memory"] == mem
    assert b.conf["spark.sql.shuffle.partitions"] == str(cpus)


def test_session_environment_wins(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ON_CLUSTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.default_parallelism() == 3
    assert session.driver_memory() == "2g"
    b = _built(monkeypatch)
    assert b.master_url == "local[3]"
    assert b.conf["spark.driver.memory"] == "2g"
