"""Q4 family: plan-shape assertions the oracle can't check — partition
pruning (B7) must be structural, not hoped-for."""

from __future__ import annotations

from bucket_to_bigquery_spark.queries import all_queries


def test_q04c_scan_is_partition_pruned(spark, sf_dir):
    df = all_queries()["q04c_partition_pruned_scan"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # The date predicate must reach the scan as a PartitionFilter over
    # __pdate — directories outside the range are never opened.
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "__pdate" in pf, f"no partition filter on __pdate: {pf!r}"
    # and NOT as a post-scan Filter over the whole table
    assert "1995-01-01" in pf or "9131" in pf  # literal or days-since-epoch


def test_q04_round_trip_schema(spark, sf_dir):
    df = all_queries()["q04_ingest_partitioned_sink"].builder(spark, sf_dir)
    assert dict(df.dtypes) == {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    }


def test_q04d_catalog_scan_is_partition_pruned(spark, sf_dir):
    """The catalog route (CREATE TABLE ... PARTITIONED BY + recover) must
    prune partitions exactly like the path-based reader."""
    df = all_queries()["q04d_catalog_sql"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "__pdate" in pf, f"no partition filter on __pdate: {pf!r}"


def test_q04d_catalog_table_visible_to_sql(spark, sf_dir):
    all_queries()["q04d_catalog_sql"].builder(spark, sf_dir)  # registers
    assert spark.sql("SHOW TABLES IN wh").where("tableName = 'orders_ing'").count() == 1
    n = spark.sql("SELECT COUNT(*) AS n FROM wh.orders_ing").first()["n"]
    assert n > 0


def test_post_publish_reload_is_noop(spark, sf_dir):
    """The reference's core idempotency guarantee (checkFilesImported,
    BucketToBigQuery.js:384-388) must hold on the finished fixture tree:
    the fixture is built at its final path, so the audit stores the URIs
    a fresh loader sees, and re-running the manifest against the
    warehouse anti-joins every file out and loads nothing."""
    from bucket_to_bigquery_spark.ingest import BatchLoader, parse_manifest
    from bucket_to_bigquery_spark.queries.ingest_queries import (
        _ingest_manifest,
        _ingested_loader,
    )
    from bucket_to_bigquery_spark.scratch import scratch_path

    _ingested_loader(spark, sf_dir)  # materialize + publish
    base = scratch_path("q04_ingest", sf_dir)
    fresh = BatchLoader(spark, f"{base}/warehouse")
    report, = fresh.run(parse_manifest(_ingest_manifest(base)))
    assert report.files_seen, "published tree lists no source files"
    assert sorted(report.files_already_imported) == sorted(report.files_seen)
    assert report.files_loaded == [] and report.rows_loaded == 0


def test_q04e_post_publish_reload_is_noop(spark, sf_dir):
    """Same guarantee for the compacted warehouse tree (q04e): compaction
    rewrites data files but must not disturb the audit's URIs — a reload
    after compact still loads nothing."""
    from bucket_to_bigquery_spark.ingest import BatchLoader, parse_manifest
    from bucket_to_bigquery_spark.queries.maintenance import (
        _compacted_loader,
        _manifest,
    )
    from bucket_to_bigquery_spark.scratch import scratch_path

    _compacted_loader(spark, sf_dir)
    base = scratch_path("q04e_compact", sf_dir)
    fresh = BatchLoader(spark, f"{base}/warehouse")
    report, = fresh.run(parse_manifest(_manifest(base)))
    assert report.files_seen, "published tree lists no source files"
    assert sorted(report.files_already_imported) == sorted(report.files_seen)
    assert report.files_loaded == [] and report.rows_loaded == 0
