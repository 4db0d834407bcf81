"""q101: k-anonymity audit — for each privacy
threshold k, how much of the table sits in quasi-identifier groups
smaller than k (the privacy-governance gate run before any dataset
release or cross-team share: a row in a small QI group is
re-identifiable; k-anonymity requires every group ≥ k).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

Shape: the quasi-identifier is (c_nationkey, c_mktsegment) on customer
— the classic demographic-combination QI stand-in. For each k in
{2, 5, 10, 25}: the number of QI groups, groups below k, rows at risk
(rows in below-k groups), and the at-risk fraction. NULL QI values
group as values (SQL GROUP BY semantics — a NULL demographic is itself
a quasi-identifier).

Determinism: all counts exact BIGINTs; the at-risk fraction is
round(x·1e6) BIGINT; one row per threshold, ordered by k.

Scale design (100 TB): ONE map-side-combined (QI → count) aggregation
— cardinality bounded by the QI domain, not the row count — then every
threshold reads the SAME cached group-size frame (a |QI-domain|-sized
frame; without the cache each threshold row would replay the table
scan). The thresholds are a 4-row broadcast cross; nothing after the
single scan is row-count-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_QI = ("c_nationkey", "c_mktsegment")
_KS = (2, 5, 10, 25)

_Q101_ORACLE = (
    "WITH g AS (SELECT c_nationkey, c_mktsegment, "
    "CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1, 2), "
    "ks AS (SELECT CAST(unnest([" + ", ".join(str(k) for k in _KS) + "]) "
    "AS BIGINT) AS k) "
    "SELECT ks.k, CAST(count(*) AS BIGINT) AS n_groups, "
    "CAST(count(CASE WHEN g.n < ks.k THEN 1 END) AS BIGINT) "
    "AS n_small_groups, "
    "CAST(sum(g.n) AS BIGINT) AS n_rows, "
    "CAST(COALESCE(sum(CASE WHEN g.n < ks.k THEN g.n END), 0) AS BIGINT) "
    "AS n_rows_at_risk, "
    "CAST(round(CAST(COALESCE(sum(CASE WHEN g.n < ks.k THEN g.n END), 0) "
    "AS DOUBLE) / CAST(sum(g.n) AS DOUBLE) * 1e6) AS BIGINT) "
    "AS at_risk_e6 "
    "FROM g CROSS JOIN ks GROUP BY ks.k ORDER BY ks.k"
)

_Q101_DESCRIPTION = (
    "Q101: k-anonymity audit over the (nation, mktsegment) quasi-"
    "identifier — per threshold k in {2,5,10,25}: group count, below-k "
    "groups, rows at risk and the e6 at-risk fraction (NULL QI values "
    "group as values). ONE map-side-combined QI aggregation cached for "
    "all thresholds (QI-domain-sized, never row-sized); thresholds are "
    "a 4-row broadcast cross."
)


@query("q101_k_anonymity", oracle=_Q101_ORACLE, description=_Q101_DESCRIPTION,
       tags=("quality", "governance"))
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tables(spark, sf_dir)["customer"]
    g = (
        cust.groupBy(*_QI)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .cache()  # one frame, |KS| threshold consumers
    )
    ks = spark.createDataFrame(
        [(k,) for k in _KS], "k long")
    at_risk = F.coalesce(
        F.sum(F.when(F.col("n") < F.col("k"), F.col("n"))), F.lit(0)
    ).cast("long")
    return (
        g.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.count(F.when(F.col("n") < F.col("k"), 1))
            .cast("long").alias("n_small_groups"),
            F.sum("n").cast("long").alias("n_rows"),
            at_risk.alias("n_rows_at_risk"),
            F.round(
                at_risk.cast("double")
                / F.sum("n").cast("double") * F.lit(1e6)
            ).cast("long").alias("at_risk_e6"),
        )
        .orderBy("k")
    )


__all__ = ["q101"]
