"""q134: funnel time-to-convert
percentiles — for each q63b funnel transition (view→click,
click→purchase, and the end-to-end view→purchase), the survivor count
and the exact p25/p50/p75/max of the conversion delay in whole
seconds. q63b reports WHO survives each stage; this is the standard
companion readout of HOW LONG conversion takes (funnel-latency SLA /
campaign analysis), with the q129 count-compress percentile machinery
over the q63b min-ts chaining contract.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).
Stage semantics are the q63b contract restated (strictly-after min-ts
chaining).

Determinism: stage times are exact integer microseconds; delays are
strictly positive (strict > chaining), so whole-second truncation has
no floor-vs-trunc ambiguity; percentiles follow the q129 explicit
disc rule (smallest delay whose cumulative user count ≥ ceil(p·n)) —
an integer-only definition replicated literally in both engines.
Ordered by the stage index.

Scale design (100 TB): the three stage frames aggregate on user_id
(the q63b shape — one exchange reused stage to stage); delays
count-compress to the (transition, delay-second) frame — bounded by
survivors, not events — and the cumulative window + rank picks run on
that compressed frame partitioned by transition (the q129 plan; never
a sort of raw rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, tables

_PS = (25, 50, 75)
_US = 1_000_000

# the q63b stage CTEs, restated under the same contract
_STAGES_SQL = (
    "s1 AS (SELECT user_id, min(ts) AS t1 FROM events "
    "WHERE event_type = 'view' GROUP BY user_id), "
    "s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e "
    "JOIN s1 ON e.user_id = s1.user_id "
    "WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id), "
    "s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e "
    "JOIN s2 ON e.user_id = s2.user_id "
    "WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)"
)

_Q134_ORACLE = (
    "WITH " + _STAGES_SQL + ", "
    "d AS ("
    "SELECT 1 AS stage, 'view_to_click' AS transition, "
    f"(epoch_us(s2.t2) - epoch_us(s1.t1)) // {_US} AS dt_s "
    "FROM s2 JOIN s1 ON s2.user_id = s1.user_id "
    "UNION ALL SELECT 2, 'click_to_purchase', "
    f"(epoch_us(s3.t3) - epoch_us(s2.t2)) // {_US} "
    "FROM s3 JOIN s2 ON s3.user_id = s2.user_id "
    "UNION ALL SELECT 3, 'view_to_purchase', "
    f"(epoch_us(s3.t3) - epoch_us(s1.t1)) // {_US} "
    "FROM s3 JOIN s1 ON s3.user_id = s1.user_id), "
    "cc AS (SELECT stage, transition, dt_s, "
    "CAST(count(*) AS BIGINT) AS c FROM d GROUP BY stage, transition, dt_s), "
    "cum AS (SELECT stage, transition, dt_s, "
    "CAST(sum(c) OVER (PARTITION BY stage ORDER BY dt_s) AS BIGINT) "
    "AS cum_c, CAST(sum(c) OVER (PARTITION BY stage) AS BIGINT) AS n, "
    "CAST(max(dt_s) OVER (PARTITION BY stage) AS BIGINT) AS mx FROM cc) "
    "SELECT CAST(stage AS BIGINT) AS stage, any_value(transition) "
    "AS transition, CAST(any_value(n) AS BIGINT) AS n_users, "
    + ", ".join(
        f"CAST(min(CASE WHEN cum_c >= ceil({p / 100} * n) THEN dt_s END) "
        f"AS BIGINT) AS p{p}_s"
        for p in _PS
    )
    + ", CAST(any_value(mx) AS BIGINT) AS max_s "
    "FROM cum GROUP BY stage ORDER BY stage"
)

_Q134_DESCRIPTION = (
    "Q134: funnel time-to-convert percentiles — exact p25/p50/p75/max "
    "whole-second delays for view->click, click->purchase and the "
    "end-to-end view->purchase transitions under the q63b strict "
    "min-ts chaining. The q129 count-compress percentile plan: delays "
    "reduce to the (transition, second) frame (bounded by survivors), "
    "cumulative counts + explicit disc rank picks on that frame only "
    "— never a sort of raw rows. Integer microsecond arithmetic; "
    "strictly positive delays so second-truncation is unambiguous."
)


@query("q134_funnel_ttc_percentiles", oracle=_Q134_ORACLE,
       description=_Q134_DESCRIPTION, tags=("events", "funnel"))
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]

    def stage(prev: DataFrame | None, etype: str, tcol: str) -> DataFrame:
        f = ev.where(F.col("event_type") == etype)
        if prev is not None:
            prev_t = prev.columns[-1]
            f = f.join(prev, "user_id").where(F.col("ts") > F.col(prev_t))
        return f.groupBy("user_id").agg(F.min("ts").alias(tcol))

    s1 = stage(None, "view", "t1").cache()   # feeds s2 + two deltas
    s2 = stage(s1, "click", "t2").cache()    # feeds s3 + two deltas
    s3 = stage(s2, "purchase", "t3").cache()  # feeds two deltas (q80)

    def delta(a, ta, b, tb, idx, name):
        return (
            a.join(b, "user_id")
            .select(
                F.lit(idx).alias("stage"),
                F.lit(name).alias("transition"),
                F.expr(
                    f"(unix_micros({tb}) - unix_micros({ta})) div {_US}"
                ).alias("dt_s"),
            )
        )

    d = (
        delta(s1, "t1", s2, "t2", 1, "view_to_click")
        .unionAll(delta(s2, "t2", s3, "t3", 2, "click_to_purchase"))
        .unionAll(delta(s1, "t1", s3, "t3", 3, "view_to_purchase"))
    )
    cc = d.groupBy("stage", "transition", "dt_s").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    wp = Window.partitionBy("stage")
    cum = cc.select(
        "stage", "transition", "dt_s",
        F.sum("c").over(wp.orderBy("dt_s")).cast("long").alias("cum_c"),
        F.sum("c").over(wp).cast("long").alias("n"),
        F.max("dt_s").over(wp).cast("long").alias("mx"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum_c") >= F.ceil(F.lit(p / 100) * F.col("n")),
                F.col("dt_s"),
            )
        ).cast("long").alias(f"p{p}_s")
        for p in _PS
    ]
    return (
        cum.groupBy("stage")
        .agg(
            F.first("transition").alias("transition"),
            F.first("n").cast("long").alias("n_users"),
            *picks,
            F.first("mx").cast("long").alias("max_s"),
        )
        .select(F.col("stage").cast("long").alias("stage"),
                "transition", "n_users",
                *[f"p{p}_s" for p in _PS], "max_s")
        .orderBy("stage")
    )


__all__ = ["q134"]
