"""Session defaults fit the machine: CPUs from the process's affinity mask,
driver heap from host memory, both overridable from the environment."""

import os

from json_schema_modern_spark import session


def test_defaults_follow_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    assert session.default_cpus() == 3
    assert session.default_driver_mem() == "7g"        # half of 15 GiB
    pages["SC_PHYS_PAGES"] = 256 * 2**30 // 4096
    assert session.default_driver_mem() == "16g"       # capped
    pages["SC_PHYS_PAGES"] = 2**30 // 4096
    assert session.default_driver_mem() == "1g"        # floor


def test_environment_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0})
    assert session.default_cpus() == 12
    assert session.default_driver_mem() == "3g"
