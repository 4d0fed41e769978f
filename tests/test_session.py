"""Session defaults that need no Spark session."""

import os

from erde_spark import session


def test_local_cpus_default_is_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the local master gets one thread per
    CPU this process may run on (what ``nproc`` counts), not a fixed 32."""
    monkeypatch.delenv('SPARK_GRAFT_CPUS', raising=False)
    assert session._local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setattr(os, 'sched_getaffinity', lambda pid: {0, 1, 2})
    assert session._local_cpus() == 3


def test_local_cpus_env_overrides(monkeypatch):
    monkeypatch.setenv('SPARK_GRAFT_CPUS', '7')
    assert session._local_cpus() == 7
