"""Q4 — the ingest pipeline as a declared, oracle-checked query surface.

These queries run the ACTUAL reference pipeline (manifest → CSV batch →
positional schema → DAY-partitioned append → ``_imported`` audit,
SURVEY §2.A A13-A15 / §2.C Q4) against the driver's ``orders`` table:
orders is exported to CSV files once per sf_dir, ingested through
:class:`~bucket_to_bigquery_spark.ingest.BatchLoader` TWICE (the second
run must be a no-op — idempotency is part of the checked semantics), and
the read-back table is compared against DuckDB reading the original
parquet. A hash match proves the whole CSV→typed→partitioned round trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest import BatchLoader, parse_manifest
from ..scratch import materialize_once, scratch_path
from .registry import dsum, dsum_sql, query, tables

# Fixed audit clock for the materialized ingest (the loader's import_ts
# seam, A15): the `_imported` timestamps become deterministic, which is
# what gives q04b a full value oracle instead of a rows-only check.
_Q04_IMPORT_TS = "2000-01-01 00:00:00"

_ORDERS_FIELDS = [
    {"name": "o_orderkey", "type": "integer"},
    {"name": "o_custkey", "type": "integer"},
    {"name": "o_orderstatus", "type": "string"},
    {"name": "o_totalprice", "type": "float"},
    {"name": "o_orderdate", "type": "timestamp"},
    {"name": "o_orderpriority", "type": "string"},
]


def _ingest_manifest(base: str) -> dict:
    return {
        "project": "b2bqs",
        "jobIdPrefix": "q04__",
        "tasks": [
            {
                "sources": [f"{base}/src/**/*.csv"],
                "dataset": "wh",
                "table": "orders_ing",
                "fields": _ORDERS_FIELDS,
                "timePartitioningField": "o_orderdate",
            }
        ],
    }


def _ingested_loader(spark: SparkSession, sf_dir: str) -> tuple[BatchLoader, object]:
    """Materialize the ingested warehouse once per sf_dir; always return a
    loader + task handle over it. Everything inside the materializer is the
    pipeline under test; repeat builder invocations only read.

    The build runs at the fixture's final path (source CSV batch,
    warehouse, audit), so the audit stores the URIs every later reader
    sees: a ``loader.run`` over the finished tree anti-joins to a no-op —
    the reference's core idempotency guarantee (BucketToBigQuery.js:384-388),
    pinned by tests/test_ingest_queries.py::test_post_publish_reload_is_noop.
    q04b still projects load-deterministic columns (bucket + seamed
    timestamp): the scratch base embeds content fingerprints, so raw URIs
    remain unknowable to a static oracle string.
    """
    base = scratch_path("q04_ingest", sf_dir)
    task = parse_manifest(_ingest_manifest(base)).tasks[0]

    def _build(p: str) -> None:
        manifest = parse_manifest(_ingest_manifest(p))
        t = tables(spark, sf_dir)
        # source batch: orders as CSV split across files/folders (the
        # many-files-per-task shape the reference batches into one job).
        # Scoped to one year of the DAY-partitioned key: partition-listing
        # and recoverPartitions cost is O(partitions), and 365 dirs proves
        # DAY-partitioning/pruning/audit semantics exactly as well as the
        # full 7-year range at 1/7 the metadata cost (at 100 TB you size
        # partitions to data, not to the calendar).
        (
            t["orders"]
            .where(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
            .withColumn("__bucket", (F.col("o_orderkey") % 4).cast("int"))
            .repartition("__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .option("header", True)
            .csv(f"{p}/src")
        )
        loader = BatchLoader(spark, f"{p}/warehouse", import_ts=_Q04_IMPORT_TS)
        r1, = loader.run(manifest)
        assert r1.rows_loaded > 0, "ingest loaded nothing"
        r2, = loader.run(manifest)  # idempotent reload: MUST be a no-op
        assert r2.files_loaded == [] and r2.rows_loaded == 0, (
            f"reload was not idempotent: {r2.files_loaded}"
        )

    materialize_once(base, _build)
    return BatchLoader(spark, f"{base}/warehouse"), task


_Q04_ORACLE_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
)


@query(
    "q04_ingest_partitioned_sink",
    oracle=(
        f"SELECT {_Q04_ORACLE_COLS} FROM orders "
        "WHERE o_orderdate < TIMESTAMP '1996-01-01' ORDER BY o_orderkey"
    ),
    description=(
        "Q4: full ingest round trip — manifest-driven CSV batch load into a "
        "DAY-partitioned parquet table with _imported audit, run twice "
        "(second run no-op), read back. Hash-match vs the original table "
        "proves CSV→typed-cast→partitioned-append semantics end to end."
    ),
    tags=("ingest",),
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    loader, task = _ingested_loader(spark, sf_dir)
    return (
        loader.read_table(task)
        .select(*[c.strip() for c in _Q04_ORACLE_COLS.split(",")])
        .orderBy("o_orderkey")
    )


@query(
    "q04b_imported_audit",
    oracle=(
        # the audited (bucket, stamp) set: every loaded bucket directory
        # appears, stamped with the loader's seamed import clock, and
        # nothing else does — DISTINCT on BOTH sides keeps the gate row
        # independent of how many CSV files the write plan emitted per
        # bucket (a physical-layout detail; per-file audit granularity
        # and reload-idempotency are pinned in the pytest golden test)
        "SELECT DISTINCT CAST(o_orderkey % 4 AS INTEGER) AS bucket, "
        f"TIMESTAMP '{_Q04_IMPORT_TS}' AS imported_at FROM orders "
        "WHERE o_orderdate < TIMESTAMP '1996-01-01' ORDER BY bucket"
    ),
    description=(
        "Q4b: the <table>_imported audit table (A15), value-checked via "
        "the loader's import_ts clock seam: the DISTINCT (bucket, "
        "imported_at) set derived from each audited file's uri must equal "
        "the loaded bucket set at the seamed stamp — no bucket missing, "
        "none extra, no foreign timestamp (a second run would need a "
        "later stamp to be visible here; reload-adds-nothing and exact "
        "per-file audit rows are asserted in the pytest golden test)."
    ),
    tags=("ingest",),
)
def q04b(spark: SparkSession, sf_dir: str) -> DataFrame:
    loader, task = _ingested_loader(spark, sf_dir)
    return (
        loader.read_audit(task)
        .select(
            F.regexp_extract("uri", r"__bucket=(\d+)", 1)
            .cast("int")
            .alias("bucket"),
            "imported_at",
        )
        .distinct()
        .orderBy("bucket")
    )


@query(
    "q04c_partition_pruned_scan",
    oracle=(
        "SELECT CAST(o_orderdate AS DATE) AS order_date, "
        "COUNT(*) AS n_orders, "
        + dsum_sql("o_totalprice", "total_price")
        + " FROM orders WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' "
        "AND DATE '1995-03-31' GROUP BY order_date ORDER BY order_date"
    ),
    description=(
        "Q4c (B7/B9): a date-range query over the DAY-partitioned ingested "
        "table. The predicate lands on the partition column, so the scan "
        "reads only matching __pdate=... directories — "
        "tests/test_ingest_queries.py asserts PartitionFilters in the "
        "physical plan (readme.md:38-41, the reference's headline claim)."
    ),
    tags=("ingest", "pruning"),
)
def q04c(spark: SparkSession, sf_dir: str) -> DataFrame:
    loader, task = _ingested_loader(spark, sf_dir)
    df = loader.read_table_partitioned(task)
    return (
        df.where(F.col("__pdate").between("1995-01-01", "1995-03-31"))
        .groupBy(F.col("__pdate").alias("order_date"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .orderBy("order_date")
    )


@query(
    "q04d_catalog_sql",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS n_orders, "
        + dsum_sql("o_totalprice", "total_price")
        + " FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-07-01' "
        "AND o_orderdate < TIMESTAMP '1996-01-01' "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    description=(
        "Q4d (A16): the ingested table registered in the Spark catalog as "
        "an external partitioned parquet table (CREATE TABLE ... USING "
        "parquet PARTITIONED BY ... LOCATION + recoverPartitions), then "
        "queried with plain spark.sql — no view registration, and the "
        "__pdate predicate prunes partitions through the catalog."
    ),
    tags=("ingest", "catalog"),
)
def q04d(spark: SparkSession, sf_dir: str) -> DataFrame:
    loader, task = _ingested_loader(spark, sf_dir)
    ident = loader.register_catalog_table(task)
    return spark.sql(
        "SELECT o_orderpriority, COUNT(*) AS n_orders, "
        + dsum_sql("o_totalprice", "total_price")
        + f" FROM {ident} WHERE __pdate >= DATE '1995-07-01' "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )


__all__ = ["q04", "q04b", "q04c", "q04d"]
