"""operators/materialize.py: every checkpoint the engine takes goes
through checkpoint/compact/publish, and each hands back a release()
that frees exactly what it created."""

from __future__ import annotations

import os

import pytest

import bench
from bucket_to_bigquery_spark.operators import materialize
from bucket_to_bigquery_spark.operators.materialize import (
    checkpoint,
    compact,
    publish,
)
from bucket_to_bigquery_spark.queries import all_queries

_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                    "bucket_to_bigquery_spark")


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_checkpoint_release_restores_persistent_rdds(spark):
    before = _persistent_rdd_ids(spark)
    ck, release = checkpoint(spark.range(100).selectExpr("id % 7 AS k"))
    assert _persistent_rdd_ids(spark) - before
    assert ck.count() == 100
    release()
    assert _persistent_rdd_ids(spark) == before


@pytest.mark.parametrize("rows,parts", [(0, 1), (1_000, 1), (100_001, 2)])
def test_compact_width_is_one_partition_per_100k_rows(spark, rows, parts):
    out, n, release = compact(spark.range(0, rows, 1, 8))
    try:
        assert n == rows
        want = min(parts, spark.sparkContext.defaultParallelism)
        assert out.rdd.getNumPartitions() == want
        assert out.count() == rows
    finally:
        release()


def test_compact_width_is_capped_at_default_parallelism(spark, monkeypatch):
    monkeypatch.setattr(materialize, "_ROWS_PER_PARTITION", 1)
    width = spark.sparkContext.defaultParallelism
    out, n, release = compact(spark.range(0, 3 * width, 1, 4 * width))
    try:
        assert n == 3 * width
        assert out.rdd.getNumPartitions() == width
    finally:
        release()


@pytest.mark.parametrize("reclaim", ["clear_cache", "release"])
def test_publish_leaves_nothing_behind(spark, reclaim):
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    ck, release_ck = checkpoint(spark.range(50).selectExpr("id % 5 AS k"))
    out, release = publish(ck.groupBy("k").count(), release_ck)
    assert sorted(r["count"] for r in out.collect()) == [10] * 5
    assert out.storageLevel.useMemory or out.storageLevel.useDisk
    if reclaim == "release":
        release()
    else:
        spark.catalog.clearCache()
    assert _persistent_rdd_ids(spark) == before


@pytest.mark.parametrize("name,most", [("q78_pagerank", 1),
                                       ("q78b_triangle_count", 2)])
def test_graph_queries_release_dead_checkpoints(spark, sf_dir, name, most):
    """q78 keeps only its final rank round; q78b keeps deg and the
    oriented edges its result reads, not the undirected edge set."""
    bench._sweep_state(spark)
    df = all_queries()[name].builder(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert bench._sweep_state(spark) <= most


def test_only_materialize_checkpoints():
    offenders = []
    for root, dirs, files in os.walk(_PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path.endswith(
                    os.path.join("operators", "materialize.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            if "localCheckpoint(" in text or "getPersistentRDDs" in text:
                offenders.append(os.path.relpath(path, _PKG))
    assert offenders == []
