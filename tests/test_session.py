"""Session defaults that come from the host (no Spark session started)."""

from __future__ import annotations

import os

from circus_train_spark.session import host_cpus


def test_host_cpus_is_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert host_cpus() == 3


def test_host_cpus_env_overrides_the_mask(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert host_cpus() == 6
