"""bench.py sizes its session to the host it runs on."""

from __future__ import annotations

import importlib
import os


def test_bench_cpus_default_to_the_host(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, the registry sweep runs on the CPUs
    this process may use (not a fixed local[32]), and records that int
    in its provenance."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    import bench

    from cheetah_spark.session import default_cpus

    bench = importlib.reload(bench)
    assert bench.CPUS == default_cpus() == len(os.sched_getaffinity(0))
