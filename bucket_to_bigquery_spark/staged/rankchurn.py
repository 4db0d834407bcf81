"""STAGED r19 surface (built in r14, NOT registered — GATE_r14.md's
round-19 note budgets the slot) — q155: month-over-month top-K
rank churn of parts by revenue — the ranking-STABILITY member of the
drift family (q58 snapshot diff compares row sets, q83/q96/q136
compare distributions; none answers "how much does the LEADERBOARD
move?", the heavy-hitter-churn signal a data-mixture owner watches).

Per adjacent ship-month pair: how many of month a's top-20 parts stay
in month b's top-20 (retained / dropped / entered), the exact Jaccard
of the two top-20 sets in e6 fixed-point (truncating integer
division, the shared division convention), and the total absolute
rank displacement over the retained parts.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: monthly revenue is an exact DECIMAL(30,6) sum, so ranks
compare exact decimals; ties break (revenue DESC, partkey ASC) — a
total order in both engines. Jaccard is integers end to end
(|inter| * 1e6 div |union|). ORDER BY the unique month key.

Scale design (100 TB): the fact scan count-compresses FIRST into the
(month, part) revenue frame — bounded by |months| x |parts|, not by
fact rows — with one map-side-combined shuffle; ranking windows
partition BY MONTH (parallel across months, never a global sort);
the month-pair join operates on the 20-row-per-month top-K frames
(|months| x 20 rows). Nothing downstream of the first combine is
corpus-size-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_TOP_K = 20

_Q155_ORACLE = (
    "WITH mrev AS (SELECT (year(l_shipdate) * 12 + month(l_shipdate) - 1) "
    "AS month_idx, l_partkey, "
    "SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) "
    "AS rev FROM lineitem GROUP BY month_idx, l_partkey), "
    "ranked AS (SELECT month_idx, l_partkey, "
    "CAST(row_number() OVER (PARTITION BY month_idx "
    "ORDER BY rev DESC, l_partkey ASC) AS BIGINT) AS rnk FROM mrev "
    f"QUALIFY rnk <= {_TOP_K}), "
    "pairs AS (SELECT a.month_idx AS month_a, b.month_idx AS month_b, "
    "a.l_partkey AS pk_a, a.rnk AS rnk_a, b.l_partkey AS pk_b, "
    "b.rnk AS rnk_b FROM ranked a FULL JOIN ranked b "
    "ON b.month_idx = a.month_idx + 1 AND b.l_partkey = a.l_partkey), "
    "adj AS (SELECT COALESCE(month_a, month_b - 1) AS month_idx, "
    "CAST(pk_a IS NOT NULL AND pk_b IS NOT NULL AS INT) AS retained, "
    "CAST(pk_a IS NOT NULL AND pk_b IS NULL AS INT) AS dropped, "
    "CAST(pk_a IS NULL AND pk_b IS NOT NULL AS INT) AS entered, "
    "CASE WHEN pk_a IS NOT NULL AND pk_b IS NOT NULL "
    "THEN abs(rnk_a - rnk_b) ELSE 0 END AS disp FROM pairs "
    # FULL JOIN rows where month b has no successor month (b's rows
    # joined as the a-side elsewhere) are handled by bounds below
    "), "
    "mk AS (SELECT DISTINCT month_idx FROM mrev), "
    "bounds AS (SELECT min(month_idx) AS lo, max(month_idx) AS hi FROM mk) "
    "SELECT CAST(month_idx AS BIGINT) AS month_idx, "
    "CAST(month_idx + 1 AS BIGINT) AS next_month_idx, "
    "CAST(SUM(retained) AS BIGINT) AS retained, "
    "CAST(SUM(dropped) AS BIGINT) AS dropped, "
    "CAST(SUM(entered) AS BIGINT) AS entered, "
    "CAST(SUM(retained) * 1000000 "
    "// (SUM(retained) + SUM(dropped) + SUM(entered)) AS BIGINT) "
    "AS jaccard_e6, "
    "CAST(SUM(disp) AS BIGINT) AS rank_displacement "
    "FROM adj, bounds WHERE month_idx >= lo AND month_idx < hi "
    "GROUP BY month_idx ORDER BY month_idx"
)

_Q155_DESCRIPTION = (
    "Q155: month-over-month top-20 rank churn of parts by revenue — "
    "leaderboard stability (retained/dropped/entered counts, exact "
    "set-Jaccard in e6 truncating fixed-point, total |rank "
    "displacement| over retained parts) for every adjacent ship-month "
    "pair. Exact-DECIMAL revenue ranking with (rev DESC, partkey ASC) "
    "ties. Scale-correct: count-compress to the (month, part) domain "
    "frame first, rank with month-partitioned windows (never a global "
    "sort), then join only the 20-row-per-month top-K frames."
)


def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    mrev = (
        li.groupBy(
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
            .alias("month_idx"),
            "l_partkey",
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(30,6)")
            ).alias("rev")
        )
        # two consumers (ranked top-K + the observed-month bounds) ->
        # cache the domain-bounded (month, part) frame
        .cache()
    )
    w = Window.partitionBy("month_idx").orderBy(
        F.col("rev").desc(), F.col("l_partkey").asc())
    ranked = (
        mrev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _TOP_K)
        .select("month_idx", "l_partkey", "rnk")
        # two consumers (the a-side and the b-side of the month-pair
        # join) -> cache the |months| x 20 top-K frame
        .cache()
    )
    a = ranked.select(
        F.col("month_idx").alias("month_a"),
        F.col("l_partkey").alias("pk_a"),
        F.col("rnk").alias("rnk_a"),
    )
    b = ranked.select(
        (F.col("month_idx") - 1).alias("month_a"),
        F.col("l_partkey").alias("pk_b"),
        F.col("rnk").alias("rnk_b"),
    )
    # full outer on (month, part) — mirrors the oracle's FULL JOIN ON
    # b.month = a.month + 1 AND same partkey (the b-side pre-shifts its
    # month key so the join condition is a plain conjunctive equi-join)
    pairs = a.join(
        b,
        (a["month_a"] == b["month_a"]) & (a["pk_a"] == b["pk_b"]),
        "full_outer",
    ).select(
        F.coalesce(a["month_a"], b["month_a"]).alias("month_idx"),
        a["pk_a"], a["rnk_a"], b["pk_b"], b["rnk_b"],
    )
    flags = pairs.select(
        "month_idx",
        (F.col("pk_a").isNotNull() & F.col("pk_b").isNotNull())
        .cast("int").alias("retained"),
        (F.col("pk_a").isNotNull() & F.col("pk_b").isNull())
        .cast("int").alias("dropped"),
        (F.col("pk_a").isNull() & F.col("pk_b").isNotNull())
        .cast("int").alias("entered"),
        F.when(
            F.col("pk_a").isNotNull() & F.col("pk_b").isNotNull(),
            F.abs(F.col("rnk_a") - F.col("rnk_b")),
        ).otherwise(F.lit(0)).alias("disp"),
    )
    bounds = mrev.agg(
        F.min("month_idx").alias("lo"), F.max("month_idx").alias("hi"))
    return (
        flags.crossJoin(F.broadcast(bounds))
        .where((F.col("month_idx") >= F.col("lo"))
               & (F.col("month_idx") < F.col("hi")))
        .groupBy(F.col("month_idx").cast("long").alias("month_idx"))
        .agg(
            F.sum("retained").cast("long").alias("retained"),
            F.sum("dropped").cast("long").alias("dropped"),
            F.sum("entered").cast("long").alias("entered"),
            F.expr(
                "cast(sum(retained) * 1000000 div "
                "(sum(retained) + sum(dropped) + sum(entered)) as bigint)"
            ).alias("jaccard_e6"),
            F.sum("disp").cast("long").alias("rank_displacement"),
        )
        .select(
            "month_idx",
            (F.col("month_idx") + 1).cast("long").alias("next_month_idx"),
            "retained", "dropped", "entered", "jaccard_e6",
            "rank_displacement",
        )
        .orderBy("month_idx")
    )


STAGED = {
    "q155_topk_rank_churn": (q155, _Q155_ORACLE, _Q155_DESCRIPTION,
                             ("stats", "governance")),
}


__all__ = ["q155", "STAGED"]
