"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (TPC-H Q1 shape, SURVEY §2.C Q17) on
  /root/testdata/sf0.001.
- ``queries()``: every registered query, one callable per entry,
  (spark, sf_dir) -> DataFrame.
- ``oracle_sql()``: the DuckDB-runnable ANSI SQL equivalent for each query
  (omitted for approx/non-SQL-expressible ops → rows-only check).

Both maps are keyed by the registry names (``q<NN>[variant]_<slug>``) in
sorted order; tests/test_oracle_parity.py checks every entry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bucket_to_bigquery_spark.queries import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    q = all_queries()["q17_tpch_q1_shape"]
    return q.builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.builder for name, q in sorted(all_queries().items())}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle
        for name, q in sorted(all_queries().items())
        if q.oracle is not None
    }
