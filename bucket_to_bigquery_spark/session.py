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
- Driver JIT follows how long the process lives. A short call (one ``run``
  command, one loader trigger, a perfbench pass) runs most of the engine's
  library code (Java serialization, Janino, Parquet, ASM, class loading) a
  few thousand times, and HotSpot's C2 threads spent more CPU compiling it
  than the executor task threads spent on the work (a quarter of a traced
  perfbench run at 4 cores). Its driver JVM starts with the four tier-4
  thresholds at 4x the JDK 17 defaults: C1 still compiles at every tier
  and hot loops still reach C2, which is what ``-XX:TieredStopAtLevel=1``
  lost (sf0.1 ``bench.py`` 50 % slower). Same-session A/B at 4 cores
  (medians of 10 ingest and 6 analytics perfbench pairs): ingest
  ``op_cpu_geomean_s`` 3.67 -> 2.63 s, analytics ``pass_cpu_s``
  56.0 -> 46.7 s, JIT seconds over a traced ingest pass 29.7 -> 15.9;
  wall times did not move. A long session that runs a large query set
  (``bench.py``: 176 queries at sf0.1) is the other way round: code that
  turns warm over many queries reaches C2 later or never, and the same
  flags made it 232 -> 242 s (3 pairs, each slower; keeping the back-edge
  threshold at its default lost too, and 2x lost its one pair). So
  ``get_spark`` takes ``long_session`` from the caller that knows it
  (``bench.py``, ``tools/profile_gate.py``), and such a session keeps
  the JDK defaults. Executors are left alone: on a cluster they are
  long-lived JVMs where the defaults pay off, and in local mode they run
  inside the driver JVM.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterable, Sequence

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession


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


# A short call's driver JVM: the tier-4 (C2) thresholds at 4x the JDK 17
# defaults (5000, 600, 15000, 40000); why, and what it saved, is in the
# design notes above. Passed as ``defaultJavaOptions``, ahead of the
# deployment's own ``defaultJavaOptions``, and Spark puts
# ``spark.driver.extraJavaOptions`` after both, so a deployment's flags
# still apply and win.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400 "
    "-XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000"
)


def _deployment_conf(key: str) -> str:
    """``key``'s value in the ``spark-defaults.conf`` spark-submit reads
    (``$SPARK_CONF_DIR``, else ``<spark home>/conf``), or ``""``.

    A builder conf replaces the file's value instead of adding to it, so
    a conf the engine extends must first be read from here."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as fh:
            lines = fh.read().splitlines()
    except OSError:
        return ""
    found = ""
    for line in lines:  # java.util.Properties: "key value" or "key=value"
        m = re.match(r"\s*([^\s=:#!]+)\s*[=:\s]\s*(.*)", line)
        if m and m[1] == key:
            found = m[2].strip()  # the last one wins
    return found


def get_spark(
    app_name: str = "bucket-to-bigquery-spark", *, long_session: bool = False
) -> SparkSession:
    """Create (or get) a local SparkSession with engine defaults.

    Core count comes from ``SPARK_GRAFT_CPUS`` (driver contract) or all
    cores. Startup-only confs here; runtime confs via :func:`tune`.
    ``long_session`` is for a process that runs a large query set (the
    design notes): its driver JVM keeps the JDK's JIT thresholds.
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
    if not long_session:
        key = "spark.driver.defaultJavaOptions"
        builder = builder.config(
            key, f"{DRIVER_JIT_OPTIONS} {_deployment_conf(key)}".rstrip())
    return tune(builder.getOrCreate())


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``ddl``'s column
    order), typed by the DDL schema ``ddl`` (``"k long, v array<double>"``).

    The rows become one ``pyarrow.Table`` that Spark plans as a
    ``LocalTableScan``: nothing is pickled and no Python worker starts,
    and collecting the frame runs no job. A list or pandas frame handed
    to ``createDataFrame`` instead parallelizes its rows through
    Python-worker tasks (pandas skips them only when
    ``spark.sql.execution.arrow.pyspark.enabled`` is set; the Arrow-table
    path does not read that conf, so default-conf sessions get it too).
    Every package frame built from driver values goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(ddl)
    schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.table(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )
    return spark.createDataFrame(table, struct)
