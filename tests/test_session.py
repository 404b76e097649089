"""Session defaults derived from the machine when the env overrides are unset."""

from __future__ import annotations

import os

from fs2_kinesis_firehose_spark.session import default_driver_memory, default_parallelism


def test_defaults_follow_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert default_driver_memory() == f"{min(24 * 1024, total_kib * 3 // 4 // 1024)}m"


def test_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert default_parallelism() == 3
    assert default_driver_memory() == "2g"
