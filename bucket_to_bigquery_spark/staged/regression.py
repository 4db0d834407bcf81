"""STAGED r17 surface (built late r13, NOT registered — GATE_r13.md's
round-17 note budgets the slot) — q142: per-group OLS line fit —
slope / intercept / R² of line revenue (extended price) on quantity
per part brand, the grouped bivariate regression a pricing or
feature-audit pipeline runs constantly (q98 fits one global OLS to
Zipf ranks; q107 stops at correlation — this is the grouped
LINE-FIT operator with both coefficients and fit quality).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: per-row e2 cents scaling (one double each), ALL five
moments (Σx, Σy, Σx², Σxy, Σy²) accumulated EXACTLY in
DECIMAL(38,0) (the q107 contract — int64 cross products wrap around
~sf40), then slope/intercept/R² as identical-operand-order doubles
over the exact moments, rounded to e6 BIGINTs (the q107 output
contract); NULL at zero x-variance (and zero y-variance for R²).
The formula text is SHARED verbatim between the Spark builder
(F.expr) and the DuckDB oracle, so operand order cannot drift.

Scale design (100 TB): one fact⋈part equi-join (part is an
SF-proportional dimension — no forced broadcast, the tpch_ext
discipline) feeding ONE map-side-combined per-brand aggregation of
six algebraic accumulators; the coefficient arithmetic runs on the
|brands|-row moment frame. Adding a regressor costs accumulators,
never another pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import tables

_SCALE = "CAST(round(CAST({x} AS DOUBLE) * 100) AS BIGINT)"

# identical-operand-order doubles over the exact moments — shared
# verbatim by both engines
_DEN = ("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - "
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
_DENY = ("(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - "
         "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")
_NUM = ("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - "
        "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))")
_SLOPE_E6 = (f"CASE WHEN {_DEN} <= 0.0 THEN NULL ELSE "
             f"CAST(round({_NUM} / {_DEN} * 1e6) AS BIGINT) END")
_INTERCEPT_E6 = (
    f"CASE WHEN {_DEN} <= 0.0 THEN NULL ELSE "
    f"CAST(round((CAST(sy AS DOUBLE) - {_NUM} / {_DEN} * "
    "CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) * 1e6) AS BIGINT) END")
_R2_E6 = (
    f"CASE WHEN {_DEN} <= 0.0 OR {_DENY} <= 0.0 THEN NULL ELSE "
    f"CAST(round({_NUM} * {_NUM} / ({_DEN} * {_DENY}) * 1e6) "
    "AS BIGINT) END")

_MOMENTS_SQL = (
    "CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx, "
    "CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy, "
    "CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) "
    "AS DECIMAL(38,0)) AS sxx, "
    "CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) "
    "AS DECIMAL(38,0)) AS sxy, "
    "CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) "
    "AS DECIMAL(38,0)) AS syy"
)

_Q142_ORACLE = (
    "WITH scaled AS (SELECT p_brand AS brand, "
    + _SCALE.format(x="l_quantity") + " AS x, "
    + _SCALE.format(x="l_extendedprice") + " AS y "
    "FROM lineitem JOIN part ON l_partkey = p_partkey), "
    "m AS (SELECT brand, " + _MOMENTS_SQL + " FROM scaled "
    "GROUP BY brand) "
    "SELECT brand, n AS n_lines, "
    f"{_SLOPE_E6} AS slope_e6, {_INTERCEPT_E6} AS intercept_e6, "
    f"{_R2_E6} AS r2_e6 FROM m ORDER BY brand"
)

_Q142_DESCRIPTION = (
    "Q142: per-brand OLS of line revenue on quantity (e2 cents) — "
    "slope/intercept/R2 from EXACT DECIMAL(38,0) moments (the q107 "
    "contract), coefficients as identical-operand-order doubles "
    "rounded to e6 BIGINTs, NULL at zero variance; the formula text "
    "is shared verbatim between engines. One fact-join pass, one "
    "map-side-combined per-brand aggregation of six accumulators; "
    "coefficient arithmetic on the |brands|-row frame only."
)


def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    scaled = (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.expr(_SCALE.format(x="l_quantity")).alias("x"),
            F.expr(_SCALE.format(x="l_extendedprice")).alias("y"),
        )
    )
    m = scaled.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)")
              * F.col("x").cast("decimal(19,0)"))
        .cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x").cast("decimal(19,0)")
              * F.col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("y").cast("decimal(19,0)")
              * F.col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)").alias("syy"),
    )
    return m.select(
        "brand",
        F.col("n").alias("n_lines"),
        F.expr(_SLOPE_E6).alias("slope_e6"),
        F.expr(_INTERCEPT_E6).alias("intercept_e6"),
        F.expr(_R2_E6).alias("r2_e6"),
    ).orderBy("brand")


STAGED = {
    "q142_brand_price_ols": (q142, _Q142_ORACLE, _Q142_DESCRIPTION,
                             ("stats", "relational")),
}


__all__ = ["q142", "STAGED"]
