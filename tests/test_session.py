"""``session.default_cpus``: the local-mode size when ``SPARK_GRAFT_CPUS``
is unset comes from the process's CPU affinity, not a fixed constant.
No SparkSession is started."""

import os

from rag_vertex_ai_vector_search_spark.session import default_cpus


def test_default_cpus_follows_affinity_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert default_cpus() == "3"


def test_default_cpus_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0})
    assert default_cpus() == "7"
