"""STAGED r19 surface (built in r14, NOT registered — GATE_r14.md's
round-19 note budgets the slot) — q160: decile lift table of
"past spend predicts future spend" — the model-evaluation primitive
(cumulative-gains / lift-curve family) the registry was missing:
q91 measures an A/B delta, q156 scores a classifier's argmax, but
nothing evaluates a RANKING score against a continuous outcome, which
is how targeting/mixture-weight models are actually accepted.

Customers with at least one order before the pivot are ranked by
exact train-period spend (cents), split into 10 rank deciles, and
each decile reports its exact test-period spend mass and its lift
against the cohort average.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: spend enters as exact cents (round(price*100), the
q65/q136 integer-domain discipline); the decile is the pure integer
((rank - 1) * 10) div n over the (train_cents DESC, custkey ASC)
total order — never ntile's engine-specific remainder spread; lift
is ONE shared-formula-text IEEE expression over four exact integers,
rounded to e6 (the q142 contract). ORDER BY the unique decile key.

Scale design (100 TB): one orders scan count-compresses to the
per-customer (train_cents, test_cents) frame (|customers|-bounded);
the global rank over that frame is the one inherently serial step —
at warehouse scale it runs as a two-level segmented rank (the
q131/q136 decomposition, documented seam) but is a plain window at
every test SF; the final combine is 10 rows. No fact rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_PIVOT = "1999-01-01"

_Q160_ORACLE = (
    "WITH cust AS (SELECT o_custkey, "
    "CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '" + _PIVOT + "' THEN "
    "CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) "
    "AS train_cents, "
    "CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '" + _PIVOT + "' THEN "
    "CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) "
    "AS test_cents, "
    "CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '" + _PIVOT + "' "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_train_orders "
    "FROM orders GROUP BY o_custkey), "
    "ranked AS (SELECT train_cents, test_cents, "
    "CAST(row_number() OVER (ORDER BY train_cents DESC, o_custkey ASC) "
    "AS BIGINT) AS rnk, "
    "CAST(COUNT(*) OVER () AS BIGINT) AS n FROM cust "
    "WHERE n_train_orders > 0), "
    "dec AS (SELECT ((rnk - 1) * 10) // n AS decile, train_cents, "
    "test_cents, n FROM ranked), "
    "agg AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust, "
    "CAST(SUM(train_cents) AS BIGINT) AS train_cents, "
    "CAST(SUM(test_cents) AS BIGINT) AS test_cents FROM dec "
    "GROUP BY decile), "
    "tot AS (SELECT CAST(SUM(test_cents) AS BIGINT) AS t_total, "
    "CAST(SUM(n_cust) AS BIGINT) AS n_total FROM agg) "
    "SELECT CAST(decile AS BIGINT) AS decile, n_cust, train_cents, "
    "test_cents, "
    # an all-train corpus has t_total = 0: lift is undefined -> NULL
    # (an unguarded double /0 is engine-divergent: inf vs cast error)
    "CASE WHEN t_total = 0 THEN NULL ELSE "
    "CAST(round((CAST(test_cents AS DOUBLE) / CAST(n_cust AS DOUBLE)) / "
    "(CAST(t_total AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e6) "
    "AS BIGINT) END AS lift_e6 "
    "FROM agg, tot ORDER BY decile"
)

_Q160_DESCRIPTION = (
    "Q160: decile lift table — customers with pre-" + _PIVOT + " "
    "orders ranked by exact train-period spend (cents), integer "
    "decile ((rank-1)*10 div n) over the (train_cents DESC, custkey) "
    "total order, per decile the exact test-period spend mass and the "
    "e6-rounded lift vs the cohort average (one shared-formula IEEE "
    "expression over four exact integers — the q142 contract). "
    "Scale-correct: one orders scan compresses to the per-customer "
    "frame; the rank is a window over that (two-level segmented-rank "
    "seam documented for warehouse scale); final combine is 10 rows."
)


def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables(spark, sf_dir)["orders"]
    pivot = F.lit(_PIVOT).cast("timestamp")
    cents = F.expr("cast(round(o_totalprice * 100) as bigint)")
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("o_orderdate") < pivot, cents)
                  .otherwise(F.lit(0))).cast("long").alias("train_cents"),
            F.sum(F.when(F.col("o_orderdate") >= pivot, cents)
                  .otherwise(F.lit(0))).cast("long").alias("test_cents"),
            F.sum(F.when(F.col("o_orderdate") < pivot, 1).otherwise(0))
            .cast("long").alias("n_train_orders"),
        )
        .where(F.col("n_train_orders") > 0)
    )
    wr = Window.orderBy(F.col("train_cents").desc(), F.col("o_custkey").asc())
    ranked = cust.select(
        "train_cents", "test_cents",
        F.row_number().over(wr).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(
            Window.partitionBy()).cast("long").alias("n"),
    )
    agg = (
        ranked.select(
            F.expr("(rnk - 1) * 10 div n").alias("decile"),
            "train_cents", "test_cents",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.sum("train_cents").cast("long").alias("train_cents"),
            F.sum("test_cents").cast("long").alias("test_cents"),
        )
        # two consumers (the totals aggregate + the final lift join)
        # -> cache the 10-row decile frame
        .cache()
    )
    tot = agg.agg(
        F.sum("test_cents").cast("long").alias("t_total"),
        F.sum("n_cust").cast("long").alias("n_total"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_cust", "train_cents", "test_cents",
            F.expr(
                # t_total = 0 -> NULL (see the oracle's guard)
                "case when t_total = 0 then null else "
                "cast(round((cast(test_cents as double) / "
                "cast(n_cust as double)) / "
                "(cast(t_total as double) / cast(n_total as double)) "
                "* 1e6) as bigint) end"
            ).alias("lift_e6"),
        )
        .orderBy("decile")
    )


STAGED = {
    "q160_decile_lift": (q160, _Q160_ORACLE, _Q160_DESCRIPTION,
                         ("stats", "eval")),
}


__all__ = ["q160", "STAGED"]
