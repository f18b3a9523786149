"""Session defaults sized to the host (no Spark): cores from the process's
CPU affinity, driver heap a quarter of physical memory; the environment
variables still override both."""

from __future__ import annotations

import os

import pytest

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark import (
    session,
)

GIB = 2**30


@pytest.fixture
def host(monkeypatch):
    """Unset the overrides; return ``set_host(cpus, phys_bytes)``."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def set_host(cpus: int, phys_bytes: int) -> None:
        page = 4096
        sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
        monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)

    return set_host


@pytest.mark.parametrize(
    "cpus, phys_bytes, master, memory",
    [
        (4, int(15.7 * GIB), "local[4]", "3g"),  # 3.9 GiB rounds down
        (2, 2 * GIB, "local[2]", "1g"),  # clamped up to 1g
        (64, 256 * GIB, "local[64]", "8g"),  # clamped down to 8g
    ],
    ids=["4cpu-15.7GiB", "2cpu-2GiB", "64cpu-256GiB"],
)
def test_defaults_follow_the_host(host, cpus, phys_bytes, master, memory):
    host(cpus, phys_bytes)
    assert f"local[{session._default_cpus()}]" == master
    assert session._default_driver_memory() == memory


def test_environment_overrides_the_host(host, monkeypatch):
    host(4, 16 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session._default_cpus() == "12"
    assert session._default_driver_memory() == "6g"
