"""Local session defaults fit the host: local[<usable cores>] and a
driver heap derived from physical memory, each overridable by env."""

from __future__ import annotations

import os

from etl_dagster_service_crawler_spark import session


def _fake_sysconf(phys_bytes):
    real = os.sysconf

    def sysconf(name):
        if name == "SC_PAGE_SIZE":
            return 4096
        if name == "SC_PHYS_PAGES":
            return phys_bytes // 4096
        return real(name)

    return sysconf


def test_defaults_derive_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_cpus() == 3

    # half of physical memory, whole GiB, never below 1g
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(15 * 2**30))
    assert session.default_driver_memory() == "7g"
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(64 * 2**30))
    assert session.default_driver_memory() == "32g"
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(2**30))
    assert session.default_driver_memory() == "1g"


def test_env_overrides_the_derived_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0})
    assert session.default_cpus() == 6
    assert session.default_driver_memory() == "3g"
