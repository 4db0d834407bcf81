"""q106:
unit-price consistency audit — per part: the dispersion (coefficient
of variation) of its observed unit price across line items, top-20
most inconsistent (the pricing/data-entry anomaly sweep: a part whose
unit price swings wildly is a unit mix-up, a currency bug, or a
genuine pricing event — either way the first thing a commerce
warehouse owner wants ranked).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

Unit price = l_extendedprice / l_quantity, one double per row in
identical operand order, immediately scaled to an e6 BIGINT (the q99
moment contract: floats never accumulate — the exact integer moment
sums Σu and Σu² in DECIMAL(38,0) drive everything). Zero/NULL
quantities are excluded by declaration (q73's completeness business).
Parts need ≥ 3 observations (a 2-line CV is noise).

    mean = Σu/n,  sd = √((Σu² − Σu²/n)/n),  cv = sd/mean

Determinism: per-row scaling is ONE double each; moments exact; mean
(e6 units) and cv (e6) are each one identical-operand-order double
over the exact sums, variance clamped at 0 before the sqrt (the
arrivals.py convention); the top-20 cut orders by (cv_e6 DESC,
part key) — total order.

Scale design (100 TB): one projection scan → ONE map-side-combined
part-key aggregation (the natural high-cardinality key, no skew
hot-spot); the top-20 is a TakeOrdered over the |parts|-sized moment
frame — no global sort, nothing row-sized after the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_MIN_OBS = 3
_TOP = 20

# per-row e6-scaled unit price ({ep}/{q} doubles)
_UNIT = ("CAST(round(CAST({ep} AS DOUBLE) / CAST({q} AS DOUBLE) * 1e6) "
         "AS BIGINT)")
# statistics over exact sums {s}=Σu (BIGINT), {s2}=Σu² (DEC38), {n}
_MEAN = "CAST(round(CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE)) AS BIGINT)"
_SD = ("sqrt(GREATEST((CAST({s2} AS DOUBLE) - CAST({s} AS DOUBLE) * "
       "CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE)) / CAST({n} AS DOUBLE), "
       "0.0))")
_CV = ("CASE WHEN {s} = 0 THEN NULL ELSE CAST(round((" + _SD + ") / "
       "(CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE)) * 1e6) AS BIGINT) END")

_Q106_ORACLE = (
    "WITH u AS (SELECT l_partkey, "
    + _UNIT.format(ep="l_extendedprice", q="l_quantity")
    + " AS up FROM lineitem WHERE l_quantity IS NOT NULL "
    "AND l_quantity <> 0), "
    "m AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_obs, "
    "CAST(sum(up) AS BIGINT) AS s, "
    "CAST(sum(CAST(up AS DECIMAL(19,0)) * CAST(up AS DECIMAL(19,0))) "
    "AS DECIMAL(38,0)) AS s2 "
    f"FROM u GROUP BY l_partkey HAVING count(*) >= {_MIN_OBS}) "
    "SELECT l_partkey, n_obs, "
    + _MEAN.format(s="s", n="n_obs") + " AS mean_unit_price_e6, "
    + _CV.format(s="s", s2="s2", n="n_obs") + " AS cv_e6 "
    "FROM m "
    f"ORDER BY cv_e6 DESC, l_partkey LIMIT {_TOP}"
)

_Q106_DESCRIPTION = (
    "Q106: unit-price consistency audit — per part, the coefficient of "
    "variation of e6-scaled unit prices (one double per row, exact "
    "BIGINT/DECIMAL(38,0) moment sums, variance clamped at 0 before "
    "sqrt), top-20 most inconsistent under the total (cv DESC, part) "
    "order. One projection scan, one map-side-combined part "
    "aggregation, TakeOrdered cut — nothing row-sized after the scan."
)


@query("q106_unit_price_dispersion", oracle=_Q106_ORACLE,
       description=_Q106_DESCRIPTION, tags=("quality", "profiling"))
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    u = li.where(
        F.col("l_quantity").isNotNull() & (F.col("l_quantity") != 0)
    ).select(
        "l_partkey",
        F.expr(_UNIT.format(ep="l_extendedprice", q="l_quantity"))
        .alias("up"),
    )
    m = (
        u.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum("up").cast("long").alias("s"),
            F.sum(F.col("up").cast("decimal(19,0)")
                  * F.col("up").cast("decimal(19,0)"))
            .cast("decimal(38,0)").alias("s2"),
        )
        .where(F.col("n_obs") >= _MIN_OBS)
    )
    return (
        m.select(
            "l_partkey", "n_obs",
            F.expr(_MEAN.format(s="s", n="n_obs"))
            .alias("mean_unit_price_e6"),
            F.expr(_CV.format(s="s", s2="s2", n="n_obs")).alias("cv_e6"),
        )
        .orderBy(F.col("cv_e6").desc(), "l_partkey")
        .limit(_TOP)
    )


__all__ = ["q106"]
