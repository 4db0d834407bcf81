"""q99: inter-arrival burstiness per event type —
gap statistics (mean, coefficient of variation, Goh–Barabási
burstiness (σ−μ)/(σ+μ)) of consecutive same-type events (the stream-
health primitive: a Poisson-looking feed has CV ≈ 1 and B ≈ 0; B → 1
flags thundering herds and stuck-then-flush producers, B → −1 a
metronome — read it before sizing streaming watermarks and batch
windows).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

Determinism: time is exact integer microseconds (``unix_micros`` /
``epoch_us`` — the q84 convention, no engine date math); gaps order
under the total (epoch_us, event_id) per-type sort; moment sums are
exact (Σg BIGINT; Σg² in DECIMAL(38,0) — gap squares overflow int64 at
warehouse row counts); each statistic is ONE identical-operand-order
double over those exact sums, scaled to e6 (q49k contract). The
variance is clamped at 0 before the sqrt (float cancellation on
near-constant gaps must not produce NaN); all-zero-gap types emit NULL
CV/burstiness (σ/μ undefined at μ = 0). Types with < 2 gaps drop.

Scale design (100 TB): ONE event_type hash exchange + per-type sort
feeding the lag window (O(1) running state), then a map-side-combined
moment aggregation to |types| rows — the q63-family single-exchange
shape. |types| is schema-bounded, so everything after the window is
constant-sized. Skew note: event_type is a LOW-cardinality partition
key by design here (a handful of types); at warehouse scale partition
by (type, day) and combine the algebraic moments across days — the
moment sums compose exactly, the plan gains day-parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, tables

# shared statistic templates over exact sums {s}=Σg (BIGINT),
# {s2}=Σg² (DECIMAL(38,0)), {n}=gap count (BIGINT)
_MEAN = "CAST(round(CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE)) AS BIGINT)"
_SD = ("sqrt(GREATEST((CAST({s2} AS DOUBLE) - CAST({s} AS DOUBLE) * "
       "CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE)) / CAST({n} AS DOUBLE), "
       "0.0))")
_CV = ("CASE WHEN {s} = 0 THEN NULL ELSE CAST(round((" + _SD + ") / "
       "(CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE)) * 1e6) AS BIGINT) END")
_BURST = ("CASE WHEN {s} = 0 THEN NULL ELSE CAST(round(((" + _SD + ") - "
          "(CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE))) / ((" + _SD + ") + "
          "(CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE))) * 1e6) AS BIGINT) "
          "END")

_Q99_ORACLE = (
    "WITH gaps AS (SELECT event_type, epoch_us(ts) - lag(epoch_us(ts)) "
    "OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS g "
    "FROM events), "
    "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps, "
    "CAST(sum(g) AS BIGINT) AS s, "
    "CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0))) "
    "AS DECIMAL(38,0)) AS s2 "
    "FROM gaps WHERE g IS NOT NULL GROUP BY event_type "
    "HAVING count(*) >= 2) "
    "SELECT event_type, n_gaps, "
    + _MEAN.format(s="s", n="n_gaps") + " AS mean_gap_us, "
    + _CV.format(s="s", s2="s2", n="n_gaps") + " AS cv_e6, "
    + _BURST.format(s="s", s2="s2", n="n_gaps") + " AS burstiness_e6 "
    "FROM m ORDER BY event_type"
)

_Q99_DESCRIPTION = (
    "Q99: per-type inter-arrival burstiness — integer-microsecond gaps "
    "under the total (epoch_us, event_id) per-type order; exact moment "
    "sums (BIGINT / DECIMAL(38,0)); mean, CV and (sd-mean)/(sd+mean) "
    "each one identical-operand-order double to e6, variance clamped "
    "at 0 before sqrt, zero-mean types NULL. One event_type exchange "
    "feeds the lag window and the map-side-combined moments; output "
    "is |types| rows."
)


@query("q99_interarrival_burstiness", oracle=_Q99_ORACLE,
       description=_Q99_DESCRIPTION, tags=("events", "profiling"))
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    us = F.expr("unix_micros(ts)")
    w = Window.partitionBy("event_type").orderBy(
        F.expr("unix_micros(ts)"), F.col("event_id"))
    gaps = (
        ev.select("event_type", "event_id",
                  (us - F.lag(us).over(w)).alias("g"))
        .where(F.col("g").isNotNull())
    )
    m = (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("g").cast("long").alias("s"),
            F.sum(F.col("g").cast("decimal(19,0)")
                  * F.col("g").cast("decimal(19,0)"))
            .cast("decimal(38,0)").alias("s2"),
        )
        .where(F.col("n_gaps") >= 2)
    )
    return (
        m.select(
            "event_type", "n_gaps",
            F.expr(_MEAN.format(s="s", n="n_gaps")).alias("mean_gap_us"),
            F.expr(_CV.format(s="s", s2="s2", n="n_gaps")).alias("cv_e6"),
            F.expr(_BURST.format(s="s", s2="s2", n="n_gaps"))
            .alias("burstiness_e6"),
        )
        .orderBy("event_type")
    )


__all__ = ["q99"]
