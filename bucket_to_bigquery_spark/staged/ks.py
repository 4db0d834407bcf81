"""STAGED r17 surface (built late r13, NOT registered — GATE_r13.md's
round-17 note budgets the slot) — q136: exact two-sample
Kolmogorov–Smirnov drift statistic on the order-value distribution,
early period (o_orderdate < 1998-01-01) vs late period — the
distribution-drift detector that complements the binned families
(q83 JS divergence, q96-family PSI, q80 chi-square): KS needs NO
binning choice, so it catches drift the fixed-bin tests smear away.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the statistic is computed entirely in integers — values
enter as exact cents (round(price·100), the q65/q129 integer-domain
discipline), and sup|F̂_A − F̂_B| is carried as the integer numerator
|ca_cum·nb − cb_cum·na| over the common denominator na·nb, so the
argmax and its location are exact (ties → smallest cents). Only the
final ks_stat divides, and that single IEEE divide of exact integers
is bit-identical across engines. BIGINT headroom: the numerator is
bounded by na·nb, fine to ~3·10⁹ rows per side; past that the
products move to DECIMAL(38,0) (documented seam, not needed at any
test SF).

Scale design (100 TB): the naive plan is a GLOBAL ordered cumulative
sum over every distinct value — the q131 sweep-line trap. This
builder count-compresses first (one map-side-combined shuffle to the
(cents, ca, cb) frame — bounded by the DISTINCT-cents domain, ≤5·10⁷
for a ≤$500k price domain, corpus-size-independent), then runs the
two-level segmented scan: within-segment prefix sums under a
$10k-band-partitioned window (parallel across ~50 bands), per-band
totals — a |bands|-row frame — carry across bands in a tiny second
window. The DuckDB oracle uses the direct global-window formulation;
the two decompositions are the same integer function, which is
exactly what the hash compare pins (the q131 precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_PIVOT = "1998-01-01"
_SEG_CENTS = 1_000_000  # $10k bands -> ~50 segments over the price domain

_Q136_ORACLE = (
    "WITH src AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, "
    f"CASE WHEN o_orderdate < TIMESTAMP '{_PIVOT}' THEN 1 ELSE 0 END AS a "
    "FROM orders), "
    "cc AS (SELECT cents, CAST(sum(a) AS BIGINT) AS ca, "
    "CAST(sum(1 - a) AS BIGINT) AS cb FROM src GROUP BY cents), "
    "run AS (SELECT cents, "
    "CAST(sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) "
    "AS ca_cum, "
    "CAST(sum(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) "
    "AS cb_cum, "
    "CAST(sum(ca) OVER () AS BIGINT) AS na, "
    "CAST(sum(cb) OVER () AS BIGINT) AS nb FROM cc), "
    "scored AS (SELECT cents, abs(ca_cum * nb - cb_cum * na) AS diff, "
    "na, nb FROM run WHERE na > 0 AND nb > 0), "
    "mx AS (SELECT max(diff) AS m FROM scored) "
    "SELECT CAST(min(diff) AS BIGINT) AS ks_num, "
    "CAST(min(cents) AS BIGINT) AS at_cents, "
    "na, CAST(min(nb) AS BIGINT) AS nb, "
    "CAST(min(diff) AS DOUBLE) / (CAST(min(na) AS DOUBLE) * "
    "CAST(min(nb) AS DOUBLE)) AS ks_stat "
    "FROM scored, mx WHERE diff = m GROUP BY na"
)

_Q136_DESCRIPTION = (
    "Q136: exact two-sample Kolmogorov-Smirnov drift on order value "
    "(early vs late period) — binning-free drift detection next to the "
    "binned q83/PSI/chi-square families. Integer-exact: cents domain, "
    "sup|FA-FB| carried as |ca_cum*nb - cb_cum*na| over na*nb, argmax "
    "location tie-broken to smallest cents; one IEEE divide at the end. "
    "Scale-correct: count-compress to the domain-bounded (cents, ca, cb) "
    "frame, then the two-level segmented scan ($10k-band windows + "
    "|bands|-row carry) — never a global window over distinct values "
    "(the oracle's direct global cumulate pins the same function)."
)


def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables(spark, sf_dir)["orders"]
    src = orders.select(
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        F.when(F.col("o_orderdate") < F.lit(_PIVOT).cast("timestamp"), 1)
        .otherwise(0).alias("a"),
    )
    # (1) count-compress: one map-side-combined shuffle, frame bounded by
    # the distinct-cents DOMAIN (not the corpus). Two consumers (within-
    # segment windows + per-segment totals) -> cache.
    cc = (
        src.groupBy("cents")
        .agg(
            F.sum("a").cast("long").alias("ca"),
            F.sum(F.lit(1) - F.col("a")).cast("long").alias("cb"),
        )
        .withColumn("seg", F.expr(f"cents div {_SEG_CENTS}"))
        .cache()
    )
    # (2) within-segment prefix sums — parallel across price bands
    w_in = Window.partitionBy("seg").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0)
    within = cc.select(
        "cents", "seg",
        F.sum("ca").over(w_in).alias("ca_in"),
        F.sum("cb").over(w_in).alias("cb_in"),
    )
    # (3) cross-segment carry on the |bands|-row totals frame (two
    # consumers: carry window + grand totals -> cache)
    seg_tot = cc.groupBy("seg").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")).cache()
    w_carry = Window.orderBy("seg").rowsBetween(
        Window.unboundedPreceding, -1)
    carry = seg_tot.select(
        "seg",
        F.coalesce(F.sum("ta").over(w_carry), F.lit(0)).alias("carry_a"),
        F.coalesce(F.sum("tb").over(w_carry), F.lit(0)).alias("carry_b"),
    )
    tot = seg_tot.agg(
        F.sum("ta").cast("long").alias("na"),
        F.sum("tb").cast("long").alias("nb"),
    )
    scored = (
        within.join(F.broadcast(carry), "seg")
        .crossJoin(F.broadcast(tot))
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "cents", "na", "nb",
            F.abs(
                (F.col("ca_in") + F.col("carry_a")) * F.col("nb")
                - (F.col("cb_in") + F.col("carry_b")) * F.col("na")
            ).alias("diff"),
        )
        .cache()  # two consumers: the max aggregate + the argmax probe
    )
    mx = scored.agg(F.max("diff").alias("m"))
    return (
        scored.join(F.broadcast(mx), F.col("diff") == F.col("m"))
        .groupBy("na")
        .agg(
            F.min("diff").cast("long").alias("ks_num"),
            F.min("cents").cast("long").alias("at_cents"),
            F.min("nb").cast("long").alias("nb"),
            (
                F.min("diff").cast("double")
                / (F.min("na").cast("double") * F.min("nb").cast("double"))
            ).alias("ks_stat"),
        )
        .select("ks_num", "at_cents", "na", "nb", "ks_stat")
    )


STAGED = {
    "q136_ks_drift": (q136, _Q136_ORACLE, _Q136_DESCRIPTION,
                      ("stats", "governance")),
}


__all__ = ["q136", "STAGED"]
