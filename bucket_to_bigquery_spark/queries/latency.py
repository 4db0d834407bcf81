"""q129: order→ship latency
percentiles per order priority — the fulfilment-SLA readout: for each
priority class, the exact p25/p50/p75/p90 of the whole-day latency
between order date and line ship date, plus n and max. The
engine-capability point is EXACT distributed percentiles done the
scale-correct way: count-compress first (the latency domain is
bounded), cumulate over the tiny compressed frame, never sort the
fact table.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism: latency is pure integer arithmetic
((unix_micros(ship) − unix_micros(order)) div 86 400 000 000 — whole
days, the q118 division convention); the percentile is
percentile_disc under the explicit rank rule "smallest latency whose
cumulative line count ≥ ceil(p·n)" — an integer-only definition
replicated literally in both engines (no interpolation, no engine
quantile function). Ordered by priority.

Scale design (100 TB): ONE fact pass map-side-combines to the
(priority, latency) count frame — bounded by |priorities|·|distinct
day latencies| (a few thousand rows) regardless of corpus size; the
cumulative window and the rank picks run on that frame only. The
naive alternative (window sort of the fact table partitioned by 5
priorities) would put 20% of the corpus in one sort partition each —
this plan never sorts raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, tables

_US_PER_DAY = 86_400_000_000
_PS = (25, 50, 75, 90)  # integer percents

_Q129_ORACLE = (
    "WITH lat AS (SELECT o_orderpriority AS priority, "
    f"(epoch_us(l_shipdate) - epoch_us(o_orderdate)) // {_US_PER_DAY} "
    "AS d FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
    "cc AS (SELECT priority, d, CAST(count(*) AS BIGINT) AS c "
    "FROM lat GROUP BY priority, d), "
    "cum AS (SELECT priority, d, "
    "CAST(sum(c) OVER (PARTITION BY priority ORDER BY d) AS BIGINT) "
    "AS cum_c, "
    "CAST(sum(c) OVER (PARTITION BY priority) AS BIGINT) AS n, "
    "CAST(max(d) OVER (PARTITION BY priority) AS BIGINT) AS max_d "
    "FROM cc) "
    "SELECT priority, CAST(any_value(n) AS BIGINT) AS n_lines, "
    + ", ".join(
        f"CAST(min(CASE WHEN cum_c >= ceil({p / 100} * n) THEN d END) "
        f"AS BIGINT) AS p{p}_days"
        for p in _PS
    )
    + ", CAST(any_value(max_d) AS BIGINT) AS max_days "
    "FROM cum GROUP BY priority ORDER BY priority"
)

_Q129_DESCRIPTION = (
    "Q129: order->ship latency percentiles per priority — exact "
    "p25/p50/p75/p90 whole-day latencies via the scale-correct "
    "count-compress plan: one fact combine to the bounded "
    "(priority, latency-day) frame, cumulative counts over THAT frame, "
    "percentile_disc by the explicit integer rank rule (smallest "
    "latency with cum count >= ceil(p*n)) replicated literally in both "
    "engines. Never sorts raw rows (a per-priority fact window would "
    "put 20% of the corpus in each sort partition). Integer day "
    "arithmetic throughout."
)


@query("q129_ship_latency_percentiles", oracle=_Q129_ORACLE,
       description=_Q129_DESCRIPTION, tags=("relational", "profiling"))
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    lat = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.expr(
                "(unix_micros(l_shipdate) - unix_micros(o_orderdate)) "
                f"div {_US_PER_DAY}"
            ).alias("d"),
        )
    )
    cc = lat.groupBy("priority", "d").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    wp = Window.partitionBy("priority")
    cum = cc.select(
        "priority", "d",
        F.sum("c").over(wp.orderBy("d")).cast("long").alias("cum_c"),
        F.sum("c").over(wp).cast("long").alias("n"),
        F.max("d").over(wp).cast("long").alias("max_d"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum_c")
                >= F.ceil(F.lit(p / 100) * F.col("n")),
                F.col("d"),
            )
        ).cast("long").alias(f"p{p}_days")
        for p in _PS
    ]
    return (
        cum.groupBy("priority")
        .agg(
            F.first("n").cast("long").alias("n_lines"),
            *picks,
            F.first("max_d").cast("long").alias("max_days"),
        )
        .orderBy("priority")
    )


__all__ = ["q129"]
