"""q92: top event paths —
the 10 most frequent length-3 event-type sequences across per-user
streams (the path-mining primitive behind "how do users actually reach
purchase"; q85's transition matrix is the order-1 summary, this is the
order-2 evidence it compresses).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

A path is three CONSECUTIVE events of one user under the total order
(ts, event_id) — never crossing users. Counts are exact; the top-10
cut orders by (count DESC, step1, step2, step3) — a total order, so
the boundary is unambiguous (the q76 contract).

Scale design (100 TB): one user_id hash exchange for the two lead
windows (O(1) running state each), one map-side-combined aggregation
to the |types|³-bounded path-count frame, and TakeOrdered for the
top-10 (partial top-k per partition, never a global sort —
plan-pinned). The event stream never re-partitions
after the user exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, tables

_TOPN = 10

_Q92_ORACLE = (
    "WITH seq AS (SELECT event_type AS step1, "
    "lead(event_type, 1) OVER w AS step2, "
    "lead(event_type, 2) OVER w AS step3 "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "paths AS (SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n "
    "FROM seq WHERE step3 IS NOT NULL GROUP BY step1, step2, step3) "
    "SELECT step1, step2, step3, n FROM paths "
    f"ORDER BY n DESC, step1, step2, step3 LIMIT {_TOPN}"
)

_Q92_DESCRIPTION = (
    "Q92: top-10 length-3 event paths — two lead windows over one "
    "user_id exchange (O(1) state), map-side-combined aggregation to "
    "the |types|^3-bounded path frame, TakeOrdered top-10 under the "
    "total order (count DESC, steps). The order-2 evidence behind "
    "q85's order-1 transition matrix."
)


@query("q92_top_event_paths", oracle=_Q92_ORACLE, description=_Q92_DESCRIPTION,
       tags=("events", "analytics"))
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    )
    return (
        seq.where(F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "step1", "step2", "step3")
        .limit(_TOPN)
    )


__all__ = ["q92"]
