"""STAGED r19 surface (built in r14, NOT registered — GATE_r14.md's
round-19 note budgets the slot) — q154: the TPC-H Q6 forecasting-
revenue-change shape, per ship year: the canonical single-scan
filtered aggregate (quantity cap + discount band) the TPC-H family
was still missing (q17/q16/q109-q112/q119-q126 cover Q1/Q3/Q4/Q5/Q7/
Q8/Q10/Q13/Q14/Q15/Q17/Q18/Q19/Q22).

Reference parity: n/a — the reference delegates queries to BigQuery;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the discount-band predicate compares ROUND(l_discount *
100) against integer cents (5..7) — never raw float equality on a
DOUBLE column (the q65/q129/q136 integer-domain discipline); revenue
is the dsum DECIMAL(30,6) exact-sum contract shared with the whole
TPC-H family. Group keys are integers; ORDER BY the unique year key.

Scale design (100 TB): one lineitem scan, both filters and the
two-column projection pushed to parquet; the aggregate map-side
combines into a |years|-row frame (~7 rows). No join, no window, no
driver collect — the plan a 1000-executor cluster wants for Q6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import dsum, dsum_sql, tables

_QTY_CAP = 24

_Q154_ORACLE = (
    "SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, "
    "CAST(COUNT(*) AS BIGINT) AS n_lines, "
    + dsum_sql("l_extendedprice * l_discount", "revenue_delta")
    + " FROM lineitem "
    "WHERE CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7 "
    f"AND l_quantity < {_QTY_CAP} "
    "GROUP BY ship_year ORDER BY ship_year"
)

_Q154_DESCRIPTION = (
    "Q154: TPC-H Q6 shape per ship year — the forecasting-revenue-"
    "change filtered aggregate (discount band 5-7 cents, quantity "
    f"< {_QTY_CAP}): SUM(l_extendedprice * l_discount) under the dsum "
    "DECIMAL(30,6) exact-sum contract. The discount band compares "
    "round(l_discount*100) to integer cents, never raw float "
    "equality. Scale-correct: one pushed-down lineitem scan, "
    "map-side combine to a |years|-row frame; no join, no window."
)


def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    return (
        li.where(
            F.expr("cast(round(l_discount * 100) as bigint)")
            .between(5, 7)
            & (F.col("l_quantity") < _QTY_CAP)
        )
        .groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dsum(F.col("l_extendedprice") * F.col("l_discount"),
                 "revenue_delta"),
        )
        .orderBy("ship_year")
    )


STAGED = {
    "q154_tpch_q6_shape": (q154, _Q154_ORACLE, _Q154_DESCRIPTION,
                           ("relational", "tpch")),
}


__all__ = ["q154", "STAGED"]
