"""the classic TPC-H decision-support
shapes the relational family doesn't cover yet: q109 local-supplier
volume (Q5 shape), q110 returned-item customer report (Q10 shape),
q111 promo revenue share by month (Q14 shape), q112 nation market
share within a region by year (Q8 shape). All four on the driver's
TPC-H-ish tables (TESTDATA.md) with the repo's exact-sum contracts.

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). The shapes are
the public TPC-H specification's, re-expressed over the testdata
schema (no spec text or generator code is used).

Determinism: every DOUBLE revenue sum goes through the dsum/dsum_sql
DECIMAL(30,6) contract (order-independent exact sum, cast back once);
ratio outputs are ONE identical-operand-order double over two exact
decimal sums, rounded to e6 BIGINT (q49k contract); ORDER BY always
ends on a unique key.

Scale design (100 TB): ONE lineitem pass each. Explicit broadcast
only on the TRUE dimensions (region/nation — schema-bounded); the
lineitem⋈orders and orders⋈customer legs are declared plain
equi-joins because orders/customer are fact-scale in TPC-H — at
warehouse scale they shuffle on their keys (or ride bucketed layout),
and at test SFs AQE broadcasts the filtered small side on its own.
Hand-forcing broadcast(orders) would lie at 100 TB. Aggregations are
map-side-combined to bounded group counts (|nations|, top-20
customers via TakeOrdered, |months|, |years|); no global sort
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import dsum, dsum_sql, query, tables

_REV = "l_extendedprice * (1 - l_discount)"


def _rev_col():
    # built lazily: module import must not require an active SparkContext
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))

# e6 ratio of two DECIMAL(30,6) exact sums — one double division, both
# operands exact, identical operand order in both engines
_RATIO_E6 = (
    "CAST(round(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) * 1e6) "
    "AS BIGINT)"
)

_Q109_ORACLE = (
    "SELECT n_name, "
    + dsum_sql(_REV, "revenue")
    + " FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' "
    "AND o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o_orderdate < TIMESTAMP '1997-01-01' "
    "GROUP BY n_name ORDER BY revenue DESC, n_name"
)

_Q109_DESCRIPTION = (
    "Q109: TPC-H Q5 shape — local-supplier volume: revenue per nation "
    "for ASIA-region customers served by a same-nation supplier in "
    "1996. nation⋈region broadcast; the fact legs are plain equi-joins "
    "(orders/customer are fact-scale at 100 TB — AQE broadcasts the "
    "filtered side at test SFs); the "
    "c_nationkey = s_nationkey locality predicate rides the supplier "
    "join; dsum DECIMAL revenue; |nations| output rows."
)


@query("q109_tpch_q5_shape", oracle=_Q109_ORACLE,
       description=_Q109_DESCRIPTION, tags=("relational", "tpch"))
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    nat = t["nation"].join(
        F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(_rev_col(), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


_Q110_ORACLE = (
    "SELECT c_custkey, c_name, n_name, "
    + dsum_sql(_REV, "revenue")
    + " FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE l_returnflag = 'R' "
    "AND o_orderdate >= TIMESTAMP '1997-01-01' "
    "AND o_orderdate < TIMESTAMP '1997-07-01' "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20"
)

_Q110_DESCRIPTION = (
    "Q110: TPC-H Q10 shape — returned-item reporting: the 20 customers "
    "who returned the most revenue in 1997-H1. Returnflag filter pushed "
    "into the lineitem scan; nation broadcast, the fact legs plain "
    "equi-joins; map-side-combined customer aggregation, TakeOrdered top-20 "
    "(never a global sort)."
)


@query("q110_tpch_q10_shape", oracle=_Q110_ORACLE,
       description=_Q110_DESCRIPTION, tags=("relational", "tpch"))
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-07-01")))
    )
    return (
        t["lineitem"].where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(_rev_col(), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q111_ORACLE = (
    "SELECT CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 "
    "AS BIGINT) AS month_idx, "
    "CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(" + _REV
    + " AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) "
    "AS promo_revenue, "
    + dsum_sql(_REV, "total_revenue") + ", "
    + _RATIO_E6.format(
        num="SUM(CASE WHEN p_type = 'PROMO' THEN CAST(" + _REV
        + " AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END)",
        den="SUM(CAST(" + _REV + " AS DECIMAL(30,6)))",
    )
    + " AS promo_share_e6 "
    "FROM lineitem "
    "JOIN part ON l_partkey = p_partkey "
    "JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
    "AND o_orderdate < TIMESTAMP '1998-01-01' "
    "GROUP BY month_idx ORDER BY month_idx"
)

_Q111_DESCRIPTION = (
    "Q111: TPC-H Q14 shape — promo revenue share per 1997 month "
    "(integer month index from the fixed 1995 epoch, the q64/q103 "
    "convention). One fact pass; part/orders legs plain equi-joins; promo and "
    "total revenue as exact DECIMAL conditional sums; the share is one "
    "double over the two exact sums, e6 BIGINT."
)


@query("q111_promo_share", oracle=_Q111_ORACLE, description=_Q111_DESCRIPTION,
       tags=("relational", "tpch"))
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    dec = "decimal(30,6)"
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _rev_col().cast(dec))
        .otherwise(F.lit(0).cast(dec))
    )
    total = F.sum(_rev_col().cast(dec))
    return (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            ((F.year("o_orderdate") - F.lit(1995)) * F.lit(12)
             + F.month("o_orderdate") - F.lit(1))
            .cast("long").alias("month_idx")
        )
        .agg(
            promo.cast("double").alias("promo_revenue"),
            total.cast("double").alias("total_revenue"),
            F.round(promo.cast("double") / total.cast("double") * 1e6)
            .cast("long").alias("promo_share_e6"),
        )
        .orderBy("month_idx")
    )


_Q112_ORACLE = (
    "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, "
    "CAST(SUM(CASE WHEN n2.n_name = 'NATION_2' THEN CAST(" + _REV
    + " AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) "
    "AS nation_revenue, "
    + dsum_sql(_REV, "region_revenue") + ", "
    + _RATIO_E6.format(
        num="SUM(CASE WHEN n2.n_name = 'NATION_2' THEN CAST(" + _REV
        + " AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END)",
        den="SUM(CAST(" + _REV + " AS DECIMAL(30,6)))",
    )
    + " AS share_e6 "
    "FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation n1 ON c_nationkey = n1.n_nationkey "
    "JOIN region ON n1.n_regionkey = r_regionkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation n2 ON s_nationkey = n2.n_nationkey "
    "WHERE r_name = 'ASIA' "
    "GROUP BY o_year ORDER BY o_year"
)

_Q112_DESCRIPTION = (
    "Q112: TPC-H Q8 shape — NATION_2's market share of supplier revenue "
    "into ASIA-region customers, per order year. The nation dimension "
    "joins TWICE (customer side filters the region, supplier side "
    "labels the share) — both broadcast; one fact pass; share is one "
    "double over two exact DECIMAL sums, e6 BIGINT; |years| rows."
)


@query("q112_market_share", oracle=_Q112_ORACLE, description=_Q112_DESCRIPTION,
       tags=("relational", "tpch"))
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    n1 = t["nation"].alias("n1")
    n2 = (
        t["nation"]
        .select(F.col("n_nationkey").alias("n2_key"),
                F.col("n_name").alias("n2_name"))
    )
    cust_region = (
        t["customer"]
        .join(F.broadcast(n1),
              F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
              F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    dec = "decimal(30,6)"
    nat = F.sum(
        F.when(F.col("n2_name") == "NATION_2", _rev_col().cast(dec))
        .otherwise(F.lit(0).cast(dec))
    )
    total = F.sum(_rev_col().cast(dec))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_region, F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            nat.cast("double").alias("nation_revenue"),
            total.cast("double").alias("region_revenue"),
            F.round(nat.cast("double") / total.cast("double") * 1e6)
            .cast("long").alias("share_e6"),
        )
        .orderBy("o_year")
    )


__all__ = ["q109", "q110", "q111", "q112"]
