"""The streaming helper's shuffle-partition contract.

``streaming_queries._sized_stream_to_memory`` sets the session-global
``spark.sql.shuffle.partitions`` to ``min(defaultParallelism, 8)`` for the
lifetime of one stream run and restores the prior value afterwards, on a
normal return and when the run raises. The stream itself is faked: only
the conf handling is under test.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from bucket_to_bigquery_spark.queries import streaming_queries

_KEY = "spark.sql.shuffle.partitions"


@pytest.fixture()
def prior(spark):
    original = spark.conf.get(_KEY)
    spark.conf.set(_KEY, "13")
    yield "13"
    spark.conf.set(_KEY, original)


@pytest.mark.parametrize("fail", [False, True], ids=["returns", "raises"])
def test_sized_stream_sets_then_restores_shuffle_partitions(
        spark, prior, monkeypatch, fail):
    seen: list[str] = []

    def fake_run(sdf, output_mode):
        seen.append(spark.conf.get(_KEY))
        if fail:
            raise RuntimeError("injected stream failure")
        return "result"

    monkeypatch.setattr(streaming_queries, "run_stream_to_memory", fake_run)
    sdf = SimpleNamespace(sparkSession=spark)
    if fail:
        with pytest.raises(RuntimeError, match="injected"):
            streaming_queries._sized_stream_to_memory(sdf, "append")
    else:
        assert streaming_queries._sized_stream_to_memory(sdf, "append") == "result"
    assert seen == [str(min(spark.sparkContext.defaultParallelism, 8))]
    assert spark.conf.get(_KEY) == prior
