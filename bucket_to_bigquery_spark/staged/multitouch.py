"""STAGED r17 surface (built late r13, NOT registered — GATE_r13.md's
round-17 note budgets the slot) — q143: position-based (U-shaped)
multi-touch attribution — the marketing-analytics companion to q77's
last-touch model: every view/click touch strictly before a user's
FIRST purchase earns credit 40% (first touch) / 40% (last touch) /
20% split across the middle touches, aggregated per touch type.
Single-touch journeys take 100%, two-touch journeys 50/50.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the conversion is the user's first purchase under the
total order (ts, event_id); "before" means strictly smaller in that
SAME total order (integer micros — equal-timestamp ties break on
event_id, so a view sharing the purchase's timestamp with a smaller
id IS a touch). Credits are exact e6 integers: 1000000 / 500000 /
400000 / 200000 div (m−2) — the truncating integer division the
division-convention pin covers; the ≤(m−2)-microcredit remainder is
deliberately dropped, identically in both engines. Ordered by
event_type.

Scale design (100 TB): one window pass finds first purchases (user-
partitioned), one equi-join on user_id attaches them to the touch
stream (both sides fact-shaped — no forced broadcast), one user-
partitioned window ranks touches, and ONE map-side-combined
aggregation emits the |types|-row report. No driver loops, nothing
global except the 2-row result sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_TOUCH_TYPES = ("click", "view")

_CREDIT_SQL = (
    "CASE WHEN m = 1 THEN 1000000 "
    "WHEN m = 2 THEN 500000 "
    "WHEN rn = 1 OR rn = m THEN 400000 "
    "ELSE 200000 {div} (m - 2) END"
)

_Q143_ORACLE = (
    "WITH conv AS (SELECT user_id, epoch_us(ts) AS p_us, "
    "event_id AS p_eid FROM events WHERE event_type = 'purchase' "
    "QUALIFY row_number() OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id) = 1), "
    "touches AS (SELECT e.user_id, e.event_type, "
    "epoch_us(e.ts) AS us, e.event_id FROM events e JOIN conv c "
    "ON e.user_id = c.user_id "
    "WHERE e.event_type IN ('click', 'view') "
    "AND (epoch_us(e.ts) < c.p_us OR (epoch_us(e.ts) = c.p_us "
    "AND e.event_id < c.p_eid))), "
    "ranked AS (SELECT user_id, event_type, "
    "CAST(row_number() OVER (PARTITION BY user_id "
    "ORDER BY us, event_id) AS BIGINT) AS rn, "
    "CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS m "
    "FROM touches), "
    "credited AS (SELECT user_id, event_type, "
    "CAST(" + _CREDIT_SQL.format(div="//") + " AS BIGINT) AS credit "
    "FROM ranked) "
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
    "CAST(sum(credit) AS BIGINT) AS credit_e6 "
    "FROM credited GROUP BY event_type ORDER BY event_type"
)

_Q143_DESCRIPTION = (
    "Q143: position-based (U-shaped) multi-touch attribution — "
    "view/click touches strictly before each user's first purchase "
    "earn 40/20/40 positional credit (100% single-touch, 50/50 "
    "two-touch), summed per touch type as exact e6 integers (middle "
    "share by truncating integer division, identical in both "
    "engines); conversion and 'before' share ONE total order "
    "(ts, event_id). One first-purchase window, one user equi-join "
    "(both sides fact-shaped, no forced broadcast), one ranking "
    "window, one map-side-combined |types|-row report."
)


def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    us = F.expr("unix_micros(ts)")
    wconv = Window.partitionBy("user_id").orderBy("ts", "event_id")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wconv))
        .where(F.col("rn") == 1)
        .select(
            "user_id", us.alias("p_us"),
            F.col("event_id").alias("p_eid"),
        )
    )
    touches = (
        ev.where(F.col("event_type").isin(*_TOUCH_TYPES))
        .select("user_id", "event_type", us.alias("us"), "event_id")
        .join(conv, "user_id")
        .where(
            (F.col("us") < F.col("p_us"))
            | ((F.col("us") == F.col("p_us"))
               & (F.col("event_id") < F.col("p_eid")))
        )
    )
    wt = Window.partitionBy("user_id")
    ranked = touches.select(
        "user_id", "event_type",
        F.row_number().over(wt.orderBy("us", "event_id"))
        .cast("long").alias("rn"),
        F.count(F.lit(1)).over(wt).cast("long").alias("m"),
    )
    credited = ranked.select(
        "user_id", "event_type",
        F.expr(_CREDIT_SQL.format(div="div")).cast("long")
        .alias("credit"),
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("credit").cast("long").alias("credit_e6"),
        )
        .orderBy("event_type")
    )


STAGED = {
    "q143_position_attribution": (q143, _Q143_ORACLE,
                                  _Q143_DESCRIPTION,
                                  ("events", "attribution")),
}


__all__ = ["q143", "STAGED"]
