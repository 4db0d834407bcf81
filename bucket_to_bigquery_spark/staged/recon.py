"""STAGED r17 surface (built late r13, NOT registered — GATE_r13.md's
round-17 note budgets the slot) — q135: warehouse referential /
key-integrity reconciliation audit — the standing data-quality scan a
100 TB ingest pipeline runs after every load: orphaned facts, childless
parents, dangling dimension keys, duplicate primary keys, and domain
violations, each reported as one (check, n_bad, n_checked) row.

Complements q73 (single-table value constraints): this audit is the
CROSS-table leg — referential integrity between fact and dimension
tables — which q73's per-row constraint predicates cannot express.

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension when registered).

Determinism: pure integer counts; fixed check list; ordered by check
name. The duplicate-PK count is defined as surplus rows
(count(*) − count(DISTINCT key tuple)) so a k-row key group
contributes k − 1 — the number of rows a dedup would remove. NULL-FK
contract: a NULL foreign key counts as a violation (the builder's
left_anti keeps NULL-key rows; the oracle uses NOT EXISTS, because
NOT IN would NULL-evaluate and silently under-count the dirty rows
this audit exists to find), and PK tuples compare with struct/row
semantics so NULL components group as equal in both engines.

Scale design (100 TB): every check is either one map-side-combined
aggregate over a single fact pass (dup-PK, nonpositive-quantity) or one
left-anti equi-join between fact and parent keyed on the join column —
the production anti-join shape (the q13/q47d discipline). Nothing is
broadcast by force: orders/lineitem are both fact-scale, so the orphan
checks stay plain shuffled anti-joins (AQE may broadcast the filtered
parent at test SFs); the six checks reduce to six bounded 1-row frames
unioned driver-free. No global sort except the 6-row result.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import tables

# NULL-FK contract: a NULL foreign key IS a referential violation (it
# references nothing). The builder's left_anti equi-join keeps NULL-key
# rows (NULL never matches), so the oracle uses correlated NOT EXISTS —
# NOT IN would evaluate NULL and silently UNDER-count exactly the dirty
# rows this audit exists to find. The duplicate-PK distinct compares
# key TUPLES (struct/row semantics, NULL components grouping as equal
# in both engines), not the any-NULL-skipping bare column list.
_Q135_ORACLE = (
    "WITH checks AS ("
    "SELECT 'orphan_lineitems' AS chk, "
    "CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) "
    "AS BIGINT) AS n_bad, "
    "CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_checked "
    "UNION ALL "
    "SELECT 'childless_orders', "
    "CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS "
    "(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) "
    "AS BIGINT), "
    "CAST((SELECT count(*) FROM orders) AS BIGINT) "
    "UNION ALL "
    "SELECT 'orders_missing_customer', "
    "CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS "
    "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) "
    "AS BIGINT), "
    "CAST((SELECT count(*) FROM orders) AS BIGINT) "
    "UNION ALL "
    "SELECT 'lineitems_missing_part', "
    "CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS "
    "(SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) "
    "AS BIGINT), "
    "CAST((SELECT count(*) FROM lineitem) AS BIGINT) "
    "UNION ALL "
    "SELECT 'duplicate_line_pk', "
    "CAST((SELECT count(*) - "
    "count(DISTINCT ROW(l_orderkey, l_linenumber)) "
    "FROM lineitem) AS BIGINT), "
    "CAST((SELECT count(*) FROM lineitem) AS BIGINT) "
    "UNION ALL "
    "SELECT 'nonpositive_quantity', "
    "CAST((SELECT count(*) FROM lineitem WHERE l_quantity <= 0) "
    "AS BIGINT), "
    "CAST((SELECT count(*) FROM lineitem) AS BIGINT)) "
    "SELECT chk, n_bad, n_checked FROM checks ORDER BY chk"
)

_Q135_DESCRIPTION = (
    "Q135: cross-table referential/key-integrity reconciliation audit — "
    "orphaned lineitems, childless orders, dangling customer/part keys, "
    "duplicate (orderkey, linenumber) PKs (counted as surplus rows), "
    "nonpositive quantities; one (check, n_bad, n_checked) row each. "
    "NULL-FK contract: NULL keys COUNT as violations (left_anti / "
    "NOT EXISTS semantics, tuple-distinct PKs — never NOT IN, which "
    "NULL-evaluates and under-counts). Each orphan check is one "
    "left-anti equi-join; ALL single-table stats ride one combined "
    "pass per table with the 1-row frames cached; no forced "
    "broadcasts (both orphan sides are fact-scale), no global sort "
    "beyond the 6-row result."
)


def _check(name: str, n_bad, n_checked) -> DataFrame:
    return n_bad.crossJoin(F.broadcast(n_checked)).select(
        F.lit(name).alias("chk"),
        F.col("n_bad").cast("long"),
        F.col("n_checked").cast("long"),
    )


def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    li, orders, cust, part = (
        t["lineitem"], t["orders"], t["customer"], t["part"])

    # ONE combined pass each over lineitem/orders for the single-table
    # stats (dup-PK surplus, nonpositive qty, row counts) — the 1-row
    # frames are multi-consumer (every check row embeds one), so cache
    # them rather than re-embedding the aggregate subtree per branch.
    # countDistinct over the STRUCT, not the bare column list: the
    # bare form skips any-NULL rows, so a NULL key component would
    # desync from the oracle's tuple-distinct (NULL-FK contract above).
    li_stats = li.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1))
         - F.countDistinct(F.struct("l_orderkey", "l_linenumber")))
        .alias("dup_bad"),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("qty_bad"),
    ).cache()
    li_n = li_stats.select("n_checked")
    ord_n = orders.agg(F.count(F.lit(1)).alias("n_checked")).cache()

    orphan_li = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    childless = (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    no_cust = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    no_part = (
        li.join(part, li.l_partkey == part.p_partkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )

    rows = [
        _check("orphan_lineitems", orphan_li, li_n),
        _check("childless_orders", childless, ord_n),
        _check("orders_missing_customer", no_cust, ord_n),
        _check("lineitems_missing_part", no_part, li_n),
        li_stats.select(
            F.lit("duplicate_line_pk").alias("chk"),
            F.col("dup_bad").cast("long").alias("n_bad"),
            F.col("n_checked").cast("long"),
        ),
        li_stats.select(
            F.lit("nonpositive_quantity").alias("chk"),
            F.col("qty_bad").cast("long").alias("n_bad"),
            F.col("n_checked").cast("long"),
        ),
    ]
    return reduce(DataFrame.unionAll, rows).orderBy("chk")


STAGED = {
    "q135_referential_audit": (q135, _Q135_ORACLE, _Q135_DESCRIPTION,
                               ("quality", "relational")),
}


__all__ = ["q135", "STAGED"]
