"""q103: weekly new-vs-returning customer mix —
per order-week: order volume, distinct active customers, first-ever
customers and the new-customer fraction (the growth-accounting readout
behind every cohort chart: a mix that tilts returning means the base
is compounding; tilting new with flat volume means churn).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). Week indexes
are exact integer day-diffs from a fixed epoch (the q64 contract —
``date_trunc('week')`` week-start conventions differ across engines).

A customer is NEW in the week of their FIRST order, so the weekly new
counts come straight off the per-customer first-week frame by grouping
on its min (the q95 first-seen shape — no join back to the activity
pairs).

Determinism: all counts exact BIGINTs; the mix fraction is
round(x·1e6) BIGINT; one row per active week, ordered by week.

Scale design (100 TB): the fact stream reduces immediately to the
distinct (customer, week) frame (ONE map-side-combined shuffle keyed
by the pair; the weekly order counts ride the same scan group) —
everything downstream is |customers|- or |weeks|-sized: first-week =
min per customer, weekly news = group that frame by its min, weekly
actives = group the pair frame by week, and the final assembly joins
three |weeks|-row frames. The pair frame is CACHED for its two
consumers (the q80 lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_EPOCH = "1995-01-01"  # week 0; orders span 1995-2001

_WEEK_SQL = (f"CAST(floor(date_diff('day', DATE '{_EPOCH}', "
             "CAST(o_orderdate AS DATE)) / 7) AS BIGINT)")

_Q103_ORACLE = (
    f"WITH ow AS (SELECT o_custkey, {_WEEK_SQL} AS week FROM orders), "
    "pairs AS (SELECT DISTINCT o_custkey, week FROM ow), "
    "vol AS (SELECT week, CAST(count(*) AS BIGINT) AS n_orders "
    "FROM ow GROUP BY week), "
    "act AS (SELECT week, CAST(count(*) AS BIGINT) AS n_customers "
    "FROM pairs GROUP BY week), "
    "fw AS (SELECT o_custkey, min(week) AS first_week FROM pairs "
    "GROUP BY o_custkey), "
    "nw AS (SELECT first_week AS week, CAST(count(*) AS BIGINT) AS n_new "
    "FROM fw GROUP BY first_week) "
    "SELECT v.week, v.n_orders, a.n_customers, "
    "CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new_customers, "
    "CAST(round(CAST(COALESCE(n.n_new, 0) AS DOUBLE) / "
    "CAST(a.n_customers AS DOUBLE) * 1e6) AS BIGINT) AS new_frac_e6 "
    "FROM vol v JOIN act a ON a.week = v.week "
    "LEFT JOIN nw n ON n.week = v.week ORDER BY v.week"
)

_Q103_DESCRIPTION = (
    "Q103: weekly new-vs-returning customer mix — per exact integer "
    "order-week (day-diff from a fixed epoch, the q64 contract): order "
    "volume, distinct actives, first-ever customers (grouped off the "
    "per-customer min-week frame, q95 first-seen shape — no join back) "
    "and the e6 new fraction. One map-side-combined (customer, week) "
    "distinct; everything downstream |customers|- or |weeks|-sized; "
    "pair frame cached for its two consumers."
)


@query("q103_new_vs_returning", oracle=_Q103_ORACLE,
       description=_Q103_DESCRIPTION, tags=("analytics",))
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables(spark, sf_dir)["orders"]
    week = F.floor(
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit(_EPOCH).cast("date")) / 7
    ).cast("long").alias("week")
    ow = orders.select("o_custkey", week)
    pairs = ow.distinct().cache()  # two consumers: actives + first-week
    vol = ow.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"))
    act = pairs.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"))
    fw = pairs.groupBy("o_custkey").agg(F.min("week").alias("first_week"))
    nw = (
        fw.groupBy(F.col("first_week").alias("week"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    n_new = F.coalesce(F.col("n_new"), F.lit(0)).cast("long")
    return (
        vol.join(act, "week")
        .join(nw, "week", "left")
        .select(
            "week", "n_orders", "n_customers",
            n_new.alias("n_new_customers"),
            F.round(n_new.cast("double")
                    / F.col("n_customers").cast("double") * F.lit(1e6))
            .cast("long").alias("new_frac_e6"),
        )
        .orderBy("week")
    )


__all__ = ["q103"]
