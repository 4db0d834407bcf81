"""Declared relational surface: SURVEY §2.C Q1–Q29 (scans, projection,
filter, joins, aggregation, windows, sort/limit, set ops).

Every builder is pure DataFrame API (Catalyst handles pushdown / pruning /
join strategy); every oracle is the ANSI-SQL equivalent DuckDB runs on the
same parquet views. Column aliases match exactly (driver hashes by sorted
column name). Reference-parity rows cite SURVEY §2.A/§2.B operator ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof_join import asof_join
from ..operators.range_join import range_join_bucketed
from ..scratch import materialize_once, scratch_path
from .registry import davg, davg_sql, dsum, dsum_sql, query, tables


# ---------------------------------------------------------------------------
# Scans / sources / sinks
# ---------------------------------------------------------------------------

@query(
    "q01_parquet_scan",
    oracle="SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
    description="Q1: full parquet scan of lineitem, ordered on its key.",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return t["lineitem"].orderBy("l_orderkey", "l_linenumber")


@query(
    "q02_csv_scan_roundtrip",
    oracle="SELECT * FROM orders ORDER BY o_orderkey",
    description=(
        "Q2: CSV scan with explicit schema + header (reference load options, "
        "SURVEY A14 / BucketToBigQuery.js:334-339): orders written to CSV and "
        "read back with an explicit schema (never inferSchema), PERMISSIVE "
        "jagged-row mode."
    ),
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    path = materialize_once(
        scratch_path("q02_csv", sf_dir),
        lambda p: t["orders"].write.mode("overwrite").option("header", True).csv(f"{p}/data"),
    ) + "/data"
    df = (
        spark.read.schema(t["orders"].schema)
        .option("header", True)
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    return df.orderBy("o_orderkey")


@query(
    "q02b_orc_scan_roundtrip",
    oracle="SELECT * FROM orders ORDER BY o_orderkey",
    description=(
        "Q2b: ORC sink + scan roundtrip — the second columnar format a "
        "warehouse load path must speak. Schema, timestamps and decimals "
        "survive the roundtrip bit-exact; ORC scans get the same "
        "column-pruning/predicate-pushdown treatment as parquet."
    ),
)
def q02b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    path = materialize_once(
        scratch_path("q02b_orc", sf_dir),
        lambda p: t["orders"].write.mode("overwrite").orc(f"{p}/data"),
    ) + "/data"
    return spark.read.orc(path).orderBy("o_orderkey")


@query(
    "q03_json_extract",
    oracle=(
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val "
        "FROM events ORDER BY event_id"
    ),
    description="Q3: JSON path extraction from events.props (get_json_object).",
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        )
        .orderBy("event_id")
    )


@query(
    "q05_glob_scan",
    oracle=(
        "SELECT * FROM (SELECT * FROM region UNION ALL SELECT * FROM region) "
        "ORDER BY r_regionkey"
    ),
    description=(
        "Q5: glob-scoped multi-file scan (reference A9 minimatch '**' source "
        "globs, BucketToBigQuery.js:237-240): same table written under two "
        "nested prefixes, read with recursiveFileLookup + pathGlobFilter."
    ),
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)

    def _write(p: str) -> None:
        for sub in ("a/x", "b/y/z"):
            t["region"].write.mode("overwrite").parquet(f"{p}/data/{sub}")

    base = materialize_once(scratch_path("q05_glob", sf_dir), _write) + "/data"
    df = (
        spark.read.option("recursiveFileLookup", True)
        .option("pathGlobFilter", "*.parquet")
        .parquet(base)
    )
    return df.orderBy("r_regionkey")


# ---------------------------------------------------------------------------
# Projection / filter
# ---------------------------------------------------------------------------

@query(
    "q06_project_filter",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net "
        "FROM lineitem WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND "
        "TIMESTAMP '1997-12-31' ORDER BY l_orderkey, l_linenumber"
    ),
    description="Q6: projection with computed column + range filter (pushed to parquet scan).",
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .where(
            F.col("l_shipdate").between(
                F.to_timestamp(F.lit("1997-01-01")), F.to_timestamp(F.lit("1997-12-31"))
            )
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("net"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q07_select_except",
    oracle="SELECT event_id, ts, user_id, event_type FROM events ORDER BY event_id",
    description="Q7: SELECT * EXCEPT(cols) — reference B3 view pattern (readme.md:46).",
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return t["events"].drop("value", "props").orderBy("event_id")


@query(
    "q08_compound_predicates",
    oracle=(
        "SELECT p_partkey, p_name, p_type, p_size, p_retailprice FROM part "
        "WHERE (p_size IN (1, 5, 9, 13) OR p_type LIKE 'PROMO%') "
        "AND p_retailprice > 950.0 ORDER BY p_partkey"
    ),
    description="Q8: compound boolean predicates (isin / LIKE / comparison).",
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["part"]
        .where(
            (F.col("p_size").isin(1, 5, 9, 13) | F.col("p_type").like("PROMO%"))
            & (F.col("p_retailprice") > 950.0)
        )
        .select("p_partkey", "p_name", "p_type", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@query(
    "q09_inner_join",
    oracle=(
        "SELECT o_orderkey, o_totalprice, c_name, c_mktsegment FROM orders "
        "JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"
    ),
    description="Q9: inner equi-join orders ⋈ customer.",
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"), "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    )


@query(
    "q10_broadcast_join_agg",
    oracle=(
        "SELECT r_name, n_name, "
        + dsum_sql("l_extendedprice * (1 - l_discount)", "revenue")
        + ", COUNT(*) AS n_items FROM lineitem "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name, n_name ORDER BY r_name, n_name"
    ),
    description=(
        "Q10: star join of the fact table against broadcast dimension tables "
        "(supplier/nation/region) — no shuffle of the small sides."
    ),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "q11_left_outer_join",
    oracle=(
        "SELECT c_custkey, COUNT(o_orderkey) AS order_cnt, "
        + dsum_sql("o_totalprice", "total_spend")
        + " FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
        "GROUP BY c_custkey ORDER BY c_custkey"
    ),
    description="Q11: left outer join — customers with no orders kept (NULL total).",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            dsum("o_totalprice", "total_spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q12_semi_join",
    oracle=(
        "SELECT c_custkey, c_name FROM customer WHERE EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000) "
        "ORDER BY c_custkey"
    ),
    description="Q12: left semi join — customers having ≥1 large order.",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    big = t["orders"].where(F.col("o_totalprice") > 300000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q13_anti_join",
    oracle=(
        "SELECT event_id, user_id FROM events e WHERE NOT EXISTS "
        "(SELECT 1 FROM events s WHERE s.event_type = 'signup' AND s.value > 75.0 "
        "AND s.user_id = e.user_id) ORDER BY event_id"
    ),
    description=(
        "Q13: left anti join — the reference's files-not-yet-imported dedup "
        "(SURVEY A13, BucketToBigQuery.js:384-388) expressed as left_anti."
    ),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    # "high-value signup" users only — a proper subset, so the anti-join
    # output is non-empty (every user has SOME signup event in the testdata).
    signups = (
        t["events"]
        .where((F.col("event_type") == "signup") & (F.col("value") > 75.0))
        .select("user_id")
    )
    return (
        t["events"]
        .join(signups, "user_id", "left_anti")
        .select("event_id", "user_id")
        .orderBy("event_id")
    )


@query(
    "q14_range_join",
    oracle=(
        "SELECT e1.event_id AS a_id, e2.event_id AS b_id FROM events e1 "
        "JOIN events e2 ON e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 60 SECOND "
        "ORDER BY a_id, b_id"
    ),
    description=(
        "Q14: range/theta join — pairs of events within 60s — via the bucketed "
        "rewrite (equi-join on time bucket + residual filter) instead of a "
        "quadratic BroadcastNestedLoopJoin. See operators/range_join.py."
    ),
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    left = t["events"].select(F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts"))
    right = t["events"].select(F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts"))
    joined = range_join_bucketed(left, right, "a_ts", "b_ts", 0.0, 60.0)
    return joined.select("a_id", "b_id").orderBy("a_id", "b_id")


@query(
    "q15_asof_join",
    oracle=(
        "SELECT c.event_id, v.event_id AS view_id_asof FROM "
        "(SELECT * FROM events WHERE event_type = 'click') c "
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v "
        "ON c.user_id = v.user_id AND c.ts >= v.ts "
        "ORDER BY c.event_id"
    ),
    description=(
        "Q15: as-of join — latest preceding 'view' per 'click' per user — via "
        "union+window (one shuffle on the key). See operators/asof_join.py."
    ),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    clicks = t["events"].where(F.col("event_type") == "click")
    views = t["events"].where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    out = asof_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["view_id"], suffix="_asof",
    )
    return out.select("event_id", "view_id_asof").orderBy("event_id")


@query(
    "q15b_asof_join_tolerance",
    oracle=(
        "SELECT c.event_id, "
        "CASE WHEN c.ts - v.ts <= INTERVAL '1 hour' THEN v.event_id END "
        "AS view_id_fresh FROM "
        "(SELECT * FROM events WHERE event_type = 'click') c "
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v "
        "ON c.user_id = v.user_id AND c.ts >= v.ts "
        "ORDER BY c.event_id"
    ),
    description=(
        "Q15b: as-of join with staleness tolerance (pandas merge_asof "
        "tolerance semantics): the latest preceding match counts only if "
        "it is within 1 hour — an older-but-fresh row does NOT substitute. "
        "Implemented by carrying the matched right timestamp through the "
        "as-of join and nulling stale matches; same single key-shuffle."
    ),
)
def q15b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    clicks = t["events"].where(F.col("event_type") == "click")
    views = t["events"].where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    out = asof_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["view_id", "view_ts"], suffix="_asof",
    )
    # microsecond precision, matching the oracle's exact INTERVAL compare —
    # cast('long') truncates to seconds, which can disagree with the true
    # interval for sub-second timestamps at the 1-hour boundary
    fresh = F.when(
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("view_ts_asof"))
        <= 3_600_000_000,
        F.col("view_id_asof"),
    )
    return out.select(
        "event_id", fresh.alias("view_id_fresh")
    ).orderBy("event_id")


@query(
    "q16_tpch_q3_shape",
    oracle=(
        "SELECT l_orderkey, o_orderdate, "
        + dsum_sql("l_extendedprice * (1 - l_discount)", "revenue")
        + " FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-07-01' "
        "AND l_shipdate > TIMESTAMP '1998-07-01' "
        "GROUP BY l_orderkey, o_orderdate "
        "ORDER BY revenue DESC, l_orderkey LIMIT 20"
    ),
    description="Q16: multi-way join + group + top-k (TPC-H Q3 shape).",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    cutoff = F.to_timestamp(F.lit("1998-07-01"))
    return (
        t["customer"].where(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"].where(F.col("o_orderdate") < cutoff),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"].where(F.col("l_shipdate") > cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "o_orderdate", "revenue")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

@query(
    "q17_tpch_q1_shape",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        + dsum_sql("l_quantity", "sum_qty") + ", "
        + dsum_sql("l_extendedprice", "sum_base_price") + ", "
        + dsum_sql("l_extendedprice * (1 - l_discount)", "sum_disc_price") + ", "
        + dsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge") + ", "
        + davg_sql("l_quantity", "avg_qty") + ", "
        + davg_sql("l_extendedprice", "avg_price") + ", "
        + davg_sql("l_discount", "avg_disc")
        + ", COUNT(*) AS count_order FROM lineitem "
        "WHERE l_shipdate <= TIMESTAMP '2001-09-01' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
    description=(
        "Q17 (flagship): TPC-H Q1-shaped hash aggregate — map-side partial agg, "
        "order-independent decimal-exact double sums."
    ),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    li = t["lineitem"].where(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-09-01"))
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q18_count_distinct",
    oracle=(
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS d_parts, "
        "COUNT(DISTINCT l_suppkey) AS d_supps, COUNT(*) AS n "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    description="Q18: exact COUNT(DISTINCT) per group (expand + two-phase agg).",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("d_parts"),
            F.countDistinct("l_suppkey").alias("d_supps"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q19_approx_count_distinct",
    oracle=(
        # Tolerance check made hash-comparable: the oracle emits the exact
        # distinct count and approx_ok=TRUE; the Spark side emits its own
        # exact count plus a bounds assertion on the HLL++ estimate (within
        # 5*rsd). Hashes match iff the estimate is in bounds (SURVEY §5.3).
        "SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, "
        "TRUE AS approx_ok FROM events GROUP BY event_type ORDER BY event_type"
    ),
    description=(
        "Q19: approximate distinct users per event_type via HyperLogLog++ "
        "(approx_count_distinct, rsd=0.01). At 100 TB this replaces the "
        "shuffle-heavy exact distinct; checked against exact with tolerance. "
        "The exact and approx aggregations run SEPARATELY and join on the "
        "tiny key set: combined in one .agg(), Catalyst plans the approx "
        "sketch into the per-(type,user) expansion — one 16 KB HLL per "
        "USER (measured 10× slower at sf0.1, unbounded memory at scale)."
    ),
    tags=("approx",),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    ev = t["events"]
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )
    return (
        exact.join(approx, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(
                    F.lit(1.0), F.col("exact_users").cast("double") * 0.05
                )
            ).alias("approx_ok"),
        )
        .orderBy("event_type")
    )


@query(
    "q20_rollup",
    oracle=(
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt, "
        + dsum_sql("o_totalprice", "total")
        + " FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus) "
        "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"
    ),
    description="Q20: ROLLUP over (priority, status) incl. grand total.",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice", "total"))
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


@query(
    "q20b_cube",
    oracle=(
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt "
        "FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus) "
        "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"
    ),
    description="Q20b: CUBE over (priority, status) — all grouping sets.",
)
def q20b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .cube("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


@query(
    "q20d_grouping_sets",
    oracle=(
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt, "
        + dsum_sql("o_totalprice", "total")
        + " FROM orders GROUP BY GROUPING SETS ((o_orderpriority), "
        "(o_orderstatus), ()) "
        "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"
    ),
    description=(
        "Q20d: explicit GROUPING SETS — per-priority, per-status, and grand "
        "total in one aggregation pass (completes Q20's rollup/cube/"
        "grouping-sets triple via the spark.sql path over registered views)."
    ),
)
def q20d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total "
        "FROM orders GROUP BY GROUPING SETS ((o_orderpriority), "
        "(o_orderstatus), ()) "
        "ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"
    )


@query(
    "q20c_pivot",
    oracle=(
        "SELECT user_id % 10 AS cohort, "
        "COUNT(*) FILTER (WHERE event_type = 'click') AS click, "
        "COUNT(*) FILTER (WHERE event_type = 'error') AS error, "
        "COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase, "
        "COUNT(*) FILTER (WHERE event_type = 'signup') AS signup, "
        "COUNT(*) FILTER (WHERE event_type = 'view') AS view "
        "FROM events GROUP BY cohort ORDER BY cohort"
    ),
    description=(
        "Q20c: pivot — event counts per user cohort, one column per event "
        "type. Pivot values are declared explicitly, so Spark skips the "
        "extra distinct-values scan and plans a single hash aggregate of "
        "conditional counts (exactly the oracle's FILTER form)."
    ),
)
def q20c(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    df = (
        t["events"]
        .groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )
    return df.select(
        "cohort", *[F.col(c).alias(c) for c in types]
    ).orderBy("cohort")


@query(
    "q21_filtered_agg",
    oracle=(
        "SELECT user_id, "
        "CAST(SUM(CAST(value AS DECIMAL(30,6))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click_value, "
        "COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase_cnt, "
        "COUNT(*) AS n FROM events GROUP BY user_id ORDER BY user_id"
    ),
    description="Q21: filtered aggregates (SUM/COUNT ... FILTER (WHERE ...)).",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", F.col("value")).cast("decimal(30,6)")
            ).cast("double").alias("click_value"),
            F.count(F.when(F.col("event_type") == "purchase", F.lit(1))).alias("purchase_cnt"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


@query(
    "q22_having",
    oracle=(
        "SELECT o_custkey, COUNT(*) AS cnt, "
        + dsum_sql("o_totalprice", "total")
        + " FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey"
    ),
    description="Q22: HAVING — post-aggregate predicate.",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice", "total"))
        .where(F.col("cnt") >= 15)
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@query(
    "q23_ranking_windows",
    oracle=(
        "SELECT o_orderkey, o_custkey, "
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn, "
        "RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rnk, "
        "DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drnk "
        "FROM orders ORDER BY o_orderkey"
    ),
    description="Q23: ROW_NUMBER / RANK / DENSE_RANK ranking windows.",
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    w_price = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_prio = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return (
        t["orders"]
        .select(
            "o_orderkey",
            "o_custkey",
            F.row_number().over(w_price).alias("rn"),
            F.rank().over(w_prio).alias("rnk"),
            F.dense_rank().over(w_prio).alias("drnk"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q24_lag_lead",
    oracle=(
        "SELECT event_id, "
        "LAG(value) OVER w AS prev_value, "
        "LEAD(value) OVER w AS next_value, "
        "epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS micros_since_prev "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts) "
        "ORDER BY event_id"
    ),
    description="Q24: LAG/LEAD analytics over per-user event streams.",
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    return (
        t["events"]
        .select(
            "event_id",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias(
                "micros_since_prev"
            ),
        )
        .orderBy("event_id")
    )


@query(
    "q25_window_frames",
    oracle=(
        "SELECT event_id, "
        "CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER "
        "(PARTITION BY user_id ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling4, "
        "CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER "
        "(PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total "
        "FROM events ORDER BY event_id"
    ),
    description=(
        "Q25: explicit window frames — rolling 4-row sum and running total "
        "(decimal-exact so segment-tree vs streaming accumulation can't diverge)."
    ),
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    base = Window.partitionBy("user_id").orderBy("ts")
    dec = F.col("value").cast("decimal(30,6)")
    return (
        t["events"]
        .select(
            "event_id",
            F.sum(dec).over(base.rowsBetween(-3, 0)).cast("double").alias("rolling4"),
            F.sum(dec)
            .over(base.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double")
            .alias("running_total"),
        )
        .orderBy("event_id")
    )


@query(
    "q26_topk_per_group",
    oracle=(
        "SELECT c_custkey, o_orderkey, o_totalprice, rn FROM ("
        "SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice, "
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "FROM orders) WHERE rn <= 2 ORDER BY c_custkey, rn"
    ),
    description="Q26: top-k (k=2) orders per customer via ranking window.",
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t["orders"]
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 2)
        .orderBy("c_custkey", "rn")
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------

@query(
    "q27_global_sort_limit",
    oracle=(
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
    ),
    description=(
        "Q27: global top-k — Spark plans TakeOrderedAndProject (heap per "
        "partition + merge), never a full sort at scale."
    ),
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q28_union_all",
    oracle=(
        "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
        "UNION ALL "
        "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'F' "
        "ORDER BY o_orderkey"
    ),
    description="Q28: UNION ALL (bag semantics — overlapping rows duplicated).",
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    a = t["orders"].where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", "o_custkey")
    b = t["orders"].where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_custkey")
    return a.unionAll(b).orderBy("o_orderkey")


@query(
    "q28b_union_distinct",
    oracle=(
        "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
        "UNION "
        "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'F' "
        "ORDER BY o_orderkey"
    ),
    description="Q28b: UNION (set semantics).",
)
def q28b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    a = t["orders"].where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", "o_custkey")
    b = t["orders"].where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_custkey")
    return a.union(b).distinct().orderBy("o_orderkey")


@query(
    "q29_intersect",
    oracle=(
        "SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
        "INTERSECT "
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'P' "
        "ORDER BY o_custkey"
    ),
    description="Q29: INTERSECT (distinct) of customer key sets.",
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    a = t["orders"].where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = t["orders"].where(F.col("o_orderstatus") == "P").select("o_custkey")
    return a.intersect(b).orderBy("o_custkey")


@query(
    "q29b_except",
    oracle=(
        "SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
        "EXCEPT "
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'P' "
        "ORDER BY o_custkey"
    ),
    description="Q29b: EXCEPT (distinct) of customer key sets.",
)
def q29b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    a = t["orders"].where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = t["orders"].where(F.col("o_orderstatus") == "P").select("o_custkey")
    return a.subtract(b).orderBy("o_custkey")
