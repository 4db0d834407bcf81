"""q11b: FULL OUTER JOIN (the one classic join type
§2.C lacked).

Scale notes (100 TB): a full outer join cannot broadcast either side by
definition (unmatched rows of BOTH sides survive), so this is a plain
shuffled sort-merge join on the equi-key — exactly what Catalyst picks;
AQE handles skew splits. Both inputs are filtered BEFORE the join and the
filters land in PushedFilters at the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_Q11B_ORACLE = (
    "SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey, "
    "c.c_acctbal AS acctbal, o.o_orderkey AS orderkey, "
    "o.o_totalprice AS totalprice, "
    "CASE WHEN c.c_custkey IS NULL THEN 'order_only' "
    "WHEN o.o_orderkey IS NULL THEN 'customer_only' "
    "ELSE 'both' END AS side "
    "FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c "
    "FULL OUTER JOIN (SELECT * FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '2001-01-01') o "
    "ON c.c_custkey = o.o_custkey "
    "ORDER BY custkey, orderkey"
)

_Q11B_DESCRIPTION = (
    "Q11b: FULL OUTER JOIN — BUILDING-segment customers against the 2001 "
    "order tail on custkey. Both unmatched sides survive with NULLs and a "
    "side indicator ('customer_only' = no 2001 order, 'order_only' = "
    "customer outside the segment); neither side can broadcast by "
    "definition, so the plan is the shuffled sort-merge join Catalyst "
    "picks, with both filters pushed to the scans."
)


@query("q11b_full_outer_join", oracle=_Q11B_ORACLE,
       description=_Q11B_DESCRIPTION, tags=("relational",))
def q11b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    joined = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "full_outer"
    )
    return (
        joined.select(
            F.coalesce(cust["c_custkey"], orders["o_custkey"]).alias("custkey"),
            cust["c_acctbal"].alias("acctbal"),
            orders["o_orderkey"].alias("orderkey"),
            orders["o_totalprice"].alias("totalprice"),
            F.when(cust["c_custkey"].isNull(), F.lit("order_only"))
            .when(orders["o_orderkey"].isNull(), F.lit("customer_only"))
            .otherwise(F.lit("both"))
            .alias("side"),
        )
        .orderBy("custkey", "orderkey")
    )


__all__ = ["q11b"]
