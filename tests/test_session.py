"""Session defaults that need no JVM to check."""

import os

from deces_dataprep_spark.session import default_cores, usable_cores


def test_default_cores_follow_the_host_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == usable_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
