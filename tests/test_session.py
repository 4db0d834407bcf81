"""Session defaults fit the machine: shuffle partitions follow the cores
the session runs on, at build time and whenever a query tunes a session."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from bucket_to_bigquery_spark import session


@pytest.mark.parametrize(
    ("cpus", "expected"),
    [("3", 3), ("16", 16), ("*", os.cpu_count()), ("", os.cpu_count()),
     ("0", os.cpu_count()), ("four", os.cpu_count()), (None, os.cpu_count())],
)
def test_shuffle_partitions_follow_spark_graft_cpus(monkeypatch, cpus, expected):
    if cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    assert session.shuffle_partitions() == expected


def test_build_and_tune_both_set_shuffle_partitions(spark, monkeypatch):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    with monkeypatch.context() as m:  # the startup conf get_spark builds
        m.setattr(SparkSession.Builder, "getOrCreate", lambda b: b)
        m.setattr(session, "tune", lambda b: b)
        assert session.get_spark()._options[key] == "3"
    try:  # the runtime conf every query applies
        assert session.tune(spark).conf.get(key) == "3"
    finally:
        spark.conf.set(key, before)
