"""Session bootstrap: the local core count behind ``local[n]`` and the
default shuffle partition count."""

from __future__ import annotations

import os

from flink_1_3_2_hopsworks_spark.session import _local_cpus


def test_local_cpus_defaults_to_process_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _local_cpus() == str(len(os.sched_getaffinity(0)))


def test_local_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _local_cpus() == "3"
