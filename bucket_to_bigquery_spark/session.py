"""SparkSession factory.

Design notes (100 TB target):
- Session timezone pinned to UTC: the reference's timestamps are naive UTC
  wall times with no timezone suffix (BucketToBigQuery.js:394 writes
  ``yyyy-MM-dd HH:mm:ss``; readme.md Excel-compatibility note). Pinning the
  session TZ makes parquet timestamp round-trips and the ``local_time``
  arithmetic deterministic on any cluster.
- AQE on: runtime re-planning (coalesce post-shuffle partitions, skew-join
  splitting, dynamic broadcast) is the first line of defense at scale.
- shuffle.partitions defaults to the session's cores (``SPARK_GRAFT_CPUS``
  when it is a count, else every core of the host); on a real cluster this
  is overridden to ~2-3× total cores by the submitter — queries never
  hardcode partition counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def shuffle_partitions() -> int:
    """One shuffle partition per core the session runs on:
    ``SPARK_GRAFT_CPUS`` when it is an integer (the ``local[N]`` the
    session is built with), else every core of the host (``local[*]``)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus.isdigit() and int(cpus) > 0:
        return int(cpus)
    return os.cpu_count() or 32


# Runtime-settable confs applied to ANY session handed to us (including the
# driver's): these are safe to set post-startup and are required for
# deterministic results. ``tune`` adds spark.sql.shuffle.partitions, read
# from the environment when it runs. It is runtime-set so it reaches
# sessions a host built with default confs: without it
# stateful streaming runs 200 state-store partitions — AQE can coalesce
# batch shuffles but is DISABLED in stateful streaming, so the default
# dominated the streaming queries' wall clock (measured 78s -> ~25s for
# q36-q41 at sf0.01 on 32 cores).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (e.g. testdata events.ts) is unreadable by
    # Spark's converter; read as int64 nanos and let the catalog rebuild a
    # microsecond timestamp (truncation — same as DuckDB's ns→us behavior).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet isAdjustedToUTC=false columns (testdata orders.o_orderdate,
    # lineitem dates) otherwise surface as TIMESTAMP_NTZ, which half the
    # timestamp builtins (unix_micros, ...) reject. With the session TZ
    # pinned UTC, reading them as TIMESTAMP is value-identical AND keeps
    # filter pushdown intact (no cast wrapping the scan column).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Every public query entry point calls this so results are deterministic
    even when the caller (e.g. the verify driver) built the session.
    """
    confs = {**RUNTIME_CONFS,
             "spark.sql.shuffle.partitions": str(shuffle_partitions())}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host; results may still be fine
    return spark


def get_spark(app_name: str = "bucket-to-bigquery-spark") -> SparkSession:
    """Create (or get) a local SparkSession with engine defaults.

    Core count comes from ``SPARK_GRAFT_CPUS`` (driver contract) or all
    cores. Startup-only confs here; runtime confs via :func:`tune`.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions()))
        .config("spark.driver.memory", os.environ.get("B2BQS_DRIVER_MEM", "16g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: shuffle through memory, skip costly disk spill paths
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
    )
    return tune(builder.getOrCreate())
