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


_TIER4 = {"Tier4InvocationThreshold": "20000",
          "Tier4MinInvocationThreshold": "2400",
          "Tier4CompileThreshold": "60000",
          "Tier4BackEdgeThreshold": "160000"}


def test_driver_jvm_runs_with_raised_tier4_thresholds(
        spark, monkeypatch, tmp_path):
    """The running JVM holds every tier-4 threshold: Spark's launcher
    passes ``-XX:+IgnoreUnrecognizedVMOptions``, so a misspelled flag
    would be dropped without a word. A deployment's own
    ``defaultJavaOptions`` follow them, and a long session gets none."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    assert {k: bean.getVMOption(k).getValue() for k in _TIER4} == _TIER4
    key = "spark.driver.defaultJavaOptions"
    (tmp_path / "spark-defaults.conf").write_text(
        f"# {key} -Xss8m\n{key}   -Xss4m -XX:+UseG1GC\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    with monkeypatch.context() as m:  # the startup conf get_spark builds
        m.setattr(SparkSession.Builder, "getOrCreate", lambda b: b)
        m.setattr(session, "tune", lambda b: b)
        opts = session.get_spark()._options[key].split()
        assert key not in session.get_spark(long_session=True)._options
    assert sorted(opts[:4]) == sorted(
        f"-XX:{k}={v}" for k, v in _TIER4.items())
    assert opts[4:] == ["-Xss4m", "-XX:+UseG1GC"]


# every DDL a package caller hands session.local_frame
_LOCAL_FRAME_DDLS = [
    "uri string",
    "k long",
    "q_id long, rank long, n_id long, cosine double",
    "list_id long, centroid array<double>",
    "index_version long, n_corpus long, n_lists long, n_probe long, "
    "recall_target double",
    "q_id long, n_corpus long, n_lists long, n_probe long, "
    "probed_lists string, candidates long, scan_frac double",
    "q_id long, probe_rank long, list_id long",
    "q_id long, q_vec array<float>, q_norm long, list_id long",
    "part long, deg long, pr_e12 long",
]

_SAMPLE = {"bigint": 7, "double": 0.5, "string": "gs://b/a.csv",
           "array<double>": [0.25, -1.5], "array<float>": [0.5, 2.0]}


@pytest.mark.parametrize("n_rows", [0, 3])
@pytest.mark.parametrize("ddl", _LOCAL_FRAME_DDLS)
def test_local_frame_is_a_local_table_scan(spark, ddl, n_rows):
    """Driver rows plan as a LocalTableScan — no RDD, so no task and no
    Python worker: building and collecting the frame runs no Spark job —
    and read back as given, typed by the DDL."""
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(ddl)
    rows = [tuple(_SAMPLE[f.dataType.simpleString()] for f in struct)] * n_rows
    sc = spark.sparkContext
    sc.setJobGroup("test-local-frame", "driver-built local relation")
    try:
        df = session.local_frame(spark, rows, ddl)
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = [tuple(r) for r in df.collect()]
    finally:
        sc._jsc.clearJobGroup()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.schema == struct
    assert got == rows
    assert list(sc.statusTracker().getJobIdsForGroup("test-local-frame")) == []


@pytest.mark.parametrize(("rows", "names", "ddl"), [
    ([("gs://b/a.csv",)], ["uri"], "uri string"),
    ([(0, [0.25, -1.5]), (1, [1.0, 2.0])], ["list_id", "centroid"],
     "list_id long, centroid array<double>"),
    ([(5, 100, 10, 3, 0.9)],
     ["index_version", "n_corpus", "n_lists", "n_probe", "recall_target"],
     "index_version long, n_corpus long, n_lists long, n_probe long, "
     "recall_target double"),
])
def test_local_frame_ddl_matches_inferred_schema(spark, rows, names, ddl):
    """The audit rows, IVF centroids and IVF params were built from column
    names with inferred types; their DDLs keep exactly those schemas, so
    the persisted `_imported` and index layouts do not change."""
    inferred = spark.createDataFrame(rows, names).schema
    assert session.local_frame(spark, rows, ddl).schema == inferred


def test_local_frame_needs_no_arrow_conf(spark):
    """A host session built with default confs (Arrow conversion off)
    still gets a local relation."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = session.local_frame(spark, [(2,), (5,)], "k long")
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, before)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
