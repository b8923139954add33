"""get_spark session defaults, checked on the builder without starting a JVM."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from docling_core_spark.session import get_spark


def _built_options(monkeypatch, **kwargs) -> dict:
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    return dict(get_spark(**kwargs)._options)


def test_master_defaults_to_affinity_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    opts = _built_options(monkeypatch)
    assert opts["spark.master"] == f"local[{len(os.sched_getaffinity(0))}]"


def test_master_follows_env_and_argument(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _built_options(monkeypatch)["spark.master"] == "local[3]"
    assert _built_options(monkeypatch, cpus=2)["spark.master"] == "local[2]"
