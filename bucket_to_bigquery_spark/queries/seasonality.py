"""q128: hourly seasonality profile of
the event stream — events per (day-of-week, hour-of-day) cell with
each hour's share of its weekday, plus a per-weekday chi-square
statistic against the uniform-over-24-hours null. The capacity-
planning / bot-detection readout (organic traffic has a diurnal
curve; a weekday whose chi-square collapses toward 0 is machine
traffic) and the input a trigger-scheduling policy reads.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism: weekday and hour are PURE INTEGER arithmetic on
unix_micros (dow = (epoch_day + 3) mod 7, 0 = Monday — 1970-01-01 was
a Thursday; hour = epoch_hour mod 24) — no engine calendar/locale
functions anywhere. Counts exact BIGINTs; the share is ONE double
over two exact integers, e6; the chi-square follows the q98/q100
per-term contract — each observed hour's (n_h − E)²/E with
E = n_dow/24 is ONE identical-operand-order double rounded to an e6
BIGINT, summed as integers (missing hours contribute their E
analytically: the closed form adds E per absent hour, kept exact by
summing (24 − observed_hours)·round(E·1e6) — no double accumulates).
Ordered by (dow, hour).

Scale design (100 TB): one map-side-combined aggregation to ≤ 168
cells; everything after is arithmetic on that constant-size frame
(weekday totals via a second 7-row combine + broadcast-back). The
projection is codegen-friendly integer div/mod on the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_US_PER_HOUR = 3_600_000_000
_US_PER_DAY = 86_400_000_000

_Q128_ORACLE = (
    "WITH cell AS (SELECT "
    f"((epoch_us(ts) // {_US_PER_DAY}) + 3) % 7 AS dow, "
    f"(epoch_us(ts) // {_US_PER_HOUR}) % 24 AS hour, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY dow, hour), "
    "wd AS (SELECT dow, CAST(sum(n) AS BIGINT) AS n_dow, "
    "CAST(count(*) AS BIGINT) AS hours_observed FROM cell GROUP BY dow), "
    "terms AS (SELECT c.dow, "
    "CAST(round((CAST(c.n AS DOUBLE) - CAST(w.n_dow AS DOUBLE) / 24) * "
    "(CAST(c.n AS DOUBLE) - CAST(w.n_dow AS DOUBLE) / 24) / "
    "(CAST(w.n_dow AS DOUBLE) / 24) * 1e6) AS BIGINT) AS t "
    "FROM cell c JOIN wd w ON c.dow = w.dow), "
    "chi AS (SELECT t.dow, CAST(sum(t.t) + "
    "(24 - any_value(w.hours_observed)) * "
    "round(CAST(any_value(w.n_dow) AS DOUBLE) / 24 * 1e6) AS BIGINT) "
    "AS chi2_e6 FROM terms t JOIN wd w ON t.dow = w.dow GROUP BY t.dow) "
    "SELECT CAST(c.dow AS BIGINT) AS dow, CAST(c.hour AS BIGINT) AS hour, "
    "c.n AS n_events, "
    "CAST(round(CAST(c.n AS DOUBLE) / CAST(w.n_dow AS DOUBLE) * 1e6) "
    "AS BIGINT) AS dow_share_e6, chi.chi2_e6 "
    "FROM cell c JOIN wd w ON c.dow = w.dow JOIN chi ON c.dow = chi.dow "
    "ORDER BY dow, hour"
)

_Q128_DESCRIPTION = (
    "Q128: hourly seasonality profile — events per (weekday, hour) "
    "with each hour's weekday share (e6) and a per-weekday chi-square "
    "vs the uniform-over-24-hours null (bot/capacity readout). "
    "Weekday/hour are pure integer div/mod on unix_micros (no engine "
    "calendar functions); q98-contract chi-square (per-hour term "
    "e6-rounded, integer sum; absent hours contribute their exact "
    "expectation analytically). One combine to <=168 cells; all later "
    "math on that constant frame."
)


@query("q128_hourly_seasonality", oracle=_Q128_ORACLE,
       description=_Q128_DESCRIPTION, tags=("events", "profiling"))
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    cell = (
        ev.select(
            F.expr(f"((unix_micros(ts) div {_US_PER_DAY}) + 3) % 7")
            .alias("dow"),
            F.expr(f"(unix_micros(ts) div {_US_PER_HOUR}) % 24")
            .alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .cache()  # three consumers (wd, chi, report): uncached, each
        #           replays the corpus scan (q80 lesson)
    )
    wd = cell.groupBy("dow").agg(
        F.sum("n").cast("long").alias("n_dow"),
        F.count(F.lit(1)).cast("long").alias("hours_observed"),
    )
    e = F.col("n_dow").cast("double") / F.lit(24)
    term = F.round(
        (F.col("n").cast("double") - e) * (F.col("n").cast("double") - e)
        / e * F.lit(1e6)
    ).cast("long")
    chi = (
        cell.join(F.broadcast(wd), "dow")
        .groupBy("dow")
        .agg(
            (F.sum(term)
             + (F.lit(24) - F.first("hours_observed"))
             * F.round(F.first("n_dow").cast("double") / F.lit(24)
                       * F.lit(1e6)))
            .cast("long").alias("chi2_e6")
        )
    )
    return (
        cell.join(F.broadcast(wd), "dow")
        .join(F.broadcast(chi), "dow")
        .select(
            F.col("dow").cast("long").alias("dow"),
            F.col("hour").cast("long").alias("hour"),
            F.col("n").alias("n_events"),
            F.round(F.col("n").cast("double")
                    / F.col("n_dow").cast("double") * F.lit(1e6))
            .cast("long").alias("dow_share_e6"),
            "chi2_e6",
        )
        .orderBy("dow", "hour")
    )


__all__ = ["q128"]
