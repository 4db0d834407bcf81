"""q131: peak
concurrent sessions per day — the classic interval/sweep-line
operator (capacity planning: "how many sessions were open at once"),
over the q63 sessionization contract (6 h gap, integer-micros
sessions). A session is an inclusive [first event, last event]
interval; concurrency is the step function +1 at each start / −1 at
each end, with starts ordered before ends at equal instants (touching
intervals overlap); the report is each observed day's maximum.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).
Sessionization is the q63 contract restated (same 6 h gap, same
(ts, event_id) tie order, same integer-micros arithmetic).

Determinism: pure integer arithmetic end to end (unix_micros, the
q118 `div` day convention, ±1 counts); at one instant the peak is
prefix-before + n_starts regardless of intra-instant order, so no
tie-break ambiguity survives the per-instant aggregation. Only days
containing a sweep instant emit rows (a day fully inside a long
session has no row — the q118 observed-days convention). Ordered by
day_idx.

Scale design (100 TB): the naive plan is a GLOBAL ordered running sum
(single-partition window over every session boundary — the classic
sweep-line scaling trap). This builder runs the two-level segmented
scan instead: (1) per-instant delta aggregation (one shuffle, frame
bounded by distinct boundary instants); (2) the within-day prefix
peak under a DAY-partitioned window (parallel across days);
(3) day totals — a |days|-row frame — carry across days in a second
tiny window, and peak(day) = carry-in + local prefix peak. Nothing
ever sorts globally except the |days|-row frame. The DuckDB oracle
uses the direct global formulation — the two decompositions are the
same integer function, which is exactly what the hash compare pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, tables

_GAP_US = 6 * 3600 * 1_000_000  # the q63 session gap
_US_PER_DAY = 86_400_000_000

_Q131_ORACLE = (
    "WITH flagged AS (SELECT user_id, ts, event_id, "
    "CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL "
    f"OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_US} "
    "THEN 1 ELSE 0 END AS new_session FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "sessioned AS (SELECT user_id, epoch_us(ts) AS us, "
    "CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM flagged), "
    "sess AS (SELECT user_id, session_idx, min(us) AS s, max(us) AS e "
    "FROM sessioned GROUP BY user_id, session_idx), "
    "sweep AS (SELECT s AS t, 1 AS d FROM sess "
    "UNION ALL SELECT e AS t, -1 AS d FROM sess), "
    "per_t AS (SELECT t, CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) "
    "AS BIGINT) AS plus, CAST(sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) "
    "AS BIGINT) AS minus FROM sweep GROUP BY t), "
    "run AS (SELECT t, plus, minus, "
    "CAST(sum(plus - minus) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) "
    "AS BIGINT) AS cum FROM per_t) "
    f"SELECT t // {_US_PER_DAY} AS day_idx, "
    "CAST(max(cum - (plus - minus) + plus) AS BIGINT) AS peak_concurrent, "
    "CAST(sum(plus) AS BIGINT) AS n_session_starts "
    "FROM run GROUP BY day_idx ORDER BY day_idx"
)

_Q131_DESCRIPTION = (
    "Q131: peak concurrent sessions per observed day — the sweep-line "
    "interval operator over q63-contract sessions (6h gap, inclusive "
    "intervals, starts-before-ends at equal instants via per-instant "
    "delta aggregation). Pure integer arithmetic. Scale-correct "
    "two-level segmented scan: per-instant combine, day-partitioned "
    "within-day prefix peaks (parallel), cross-day carry on the "
    "|days|-row totals frame — never a global sort/window over "
    "session boundaries (the oracle's direct global running sum is "
    "the same integer function, which the hash compare pins)."
)


@query("q131_peak_concurrency", oracle=_Q131_ORACLE,
       description=_Q131_DESCRIPTION, tags=("events", "windows"))
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    us = F.expr("unix_micros(ts)")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("us") - F.lag("us").over(wu)
    sessioned = (
        ev.select("user_id", "ts", "event_id", us.alias("us"))
        .withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > _GAP_US), F.lit(1)).otherwise(0),
        )
        .withColumn(
            "session_idx",
            F.sum("new_session").over(
                wu.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
    )
    sess = sessioned.groupBy("user_id", "session_idx").agg(
        F.min("us").alias("s"), F.max("us").alias("e"))
    sweep = sess.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        sess.select(F.col("e").alias("t"), F.lit(-1).alias("d")))
    per_t = (
        sweep.groupBy("t")
        .agg(
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("long")
            .alias("plus"),
            F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).cast("long")
            .alias("minus"),
        )
        .withColumn("day_idx", F.expr(f"t div {_US_PER_DAY}"))
    )
    # (2) within-day prefix peak — parallel across day partitions;
    # peak at an instant = prefix-before-it + its starts
    wd = Window.partitionBy("day_idx").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0)
    within = per_t.withColumn(
        "peak_local",
        F.sum(F.col("plus") - F.col("minus")).over(wd)
        - (F.col("plus") - F.col("minus")) + F.col("plus"),
    )
    day = within.groupBy("day_idx").agg(
        F.sum(F.col("plus") - F.col("minus")).cast("long").alias("day_total"),
        F.max("peak_local").cast("long").alias("peak_local"),
        F.sum("plus").cast("long").alias("n_session_starts"),
    )
    # (3) cross-day carry over the tiny |days|-row frame — ONE consumer
    # (a window is a single scan), so no cache (review finding)
    wc = Window.orderBy("day_idx").rowsBetween(
        Window.unboundedPreceding, -1)
    return (
        day.withColumn(
            "carry", F.coalesce(F.sum("day_total").over(wc), F.lit(0)))
        .select(
            "day_idx",
            (F.col("carry") + F.col("peak_local")).cast("long")
            .alias("peak_concurrent"),
            "n_session_starts",
        )
        .orderBy("day_idx")
    )


__all__ = ["q131"]
