"""q104:
Benford first-digit audit — the observed leading-digit distribution of
a monetary column against Benford's law, with a chi-square distance
(the synthetic-data / fraud / unit-mixup smoke alarm: organically
grown magnitudes follow log10(1 + 1/d); generated or truncated data
rarely does — run it on every new source's numeric columns before
trusting them).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

Per leading digit d ∈ 1..9 of |o_totalprice|: observed count, observed
share, Benford expectation log10(1 + 1/d), and the per-digit
chi-square contribution (o − e)²/e over counts. Amounts with no leading
digit at DECIMAL(30,6) resolution — NULL, zero, |x| < 5e-7 (rendering
rounds to zero) and |x| ≥ 1e24 (beyond the type's range) — are
excluded (ADVICE r11 #4 + r12 review: the predicate round-trips
through the SAME cast as the digit extraction, magnitude-guarded by a
lazily-evaluated CASE, so both engines exclude identically on ANY
numeric column; declared — completeness is q73's business).

Determinism: counts exact BIGINTs (the leading digit of a DOUBLE is
taken lexically — first nonzero digit of the DECIMAL(30,6) rendering
of the absolute value, a HALF_UP cast both engines share — never via
log10 float gymnastics whose edge rounding could disagree); shares and
contributions are round(x·1e6)/round(x·1e3) BIGINTs from ONE
identical-operand-order double each (q49k contract).

Scale design (100 TB): one projection scan → a 9-ary map-side-combined
count — the minimum possible plan for the metric; the 9-row grid join
is a broadcast completion so silent digits still render (a digit with
ZERO observations is the loudest Benford violation of all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

# leading digit: first nonzero char of the DECIMAL(30,6) rendering of
# abs(x) — the decimal cast rounds HALF_UP to 6 places on BOTH engines
# and renders plain digits (printf-style %.6f would differ: Java
# HALF_UP vs C round-half-even at the last place).
_DIGIT = ("CAST(substr(regexp_replace(CAST(CAST(abs({x}) AS "
          "DECIMAL(30,6)) AS STRING), '^[0.]+', ''), 1, 1) AS BIGINT)")
_SHARE = "CAST(round(CAST({o} AS DOUBLE) / CAST({n} AS DOUBLE) * 1e6) AS BIGINT)"
# expected share log10(1 + 1/d) — ln is the only libm call
_EXP = "CAST(round(ln(1.0 + 1.0 / CAST({d} AS DOUBLE)) / ln(10.0) * 1e6) AS BIGINT)"
# chi-square contribution over counts: (o - e)^2 / e with e = n*p_d
_CHI = ("CAST(round(((CAST({o} AS DOUBLE) - CAST({n} AS DOUBLE) * "
        "(ln(1.0 + 1.0 / CAST({d} AS DOUBLE)) / ln(10.0))) * "
        "(CAST({o} AS DOUBLE) - CAST({n} AS DOUBLE) * "
        "(ln(1.0 + 1.0 / CAST({d} AS DOUBLE)) / ln(10.0)))) / "
        "(CAST({n} AS DOUBLE) * (ln(1.0 + 1.0 / CAST({d} AS DOUBLE)) / "
        "ln(10.0))) * 1e3) AS BIGINT)")

# Exclusion predicate round-trips through the SAME DECIMAL(30,6) cast
# the digit extraction uses (ADVICE r11 #4): a nonzero amount whose
# 6-place rendering rounds to zero (|x| < 5e-7) has NO leading digit —
# `x <> 0` alone kept it, where _DIGIT went NULL on Spark but raised a
# cast error on DuckDB. The CASE also bounds the magnitude BEFORE the
# cast ever runs (CASE is lazily evaluated on both engines, a bare AND
# is not guaranteed to short-circuit): |x| ≥ 1e24 overflows
# DECIMAL(30,6) — silently NULL on non-ANSI Spark, an error on DuckDB
# (r12 review) — so out-of-range magnitudes are excluded identically
# too. With both guards the exclusion is identical on both engines for
# any numeric column this audit is pointed at.
_NONZERO = ("CASE WHEN abs({x}) < 1e24 "
            "THEN CAST(abs({x}) AS DECIMAL(30,6)) <> 0 ELSE FALSE END")

_Q104_ORACLE = (
    "WITH amounts AS (SELECT o_totalprice AS x FROM orders "
    "WHERE o_totalprice IS NOT NULL AND "
    + _NONZERO.format(x="o_totalprice") + "), "
    "digits AS (SELECT " + _DIGIT.format(x="x") + " AS digit FROM amounts), "
    "obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed "
    "FROM digits GROUP BY digit), "
    "n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs), "
    "grid AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) "
    "AS digit) "
    "SELECT g.digit, CAST(COALESCE(o.observed, 0) AS BIGINT) AS observed, "
    + _SHARE.format(o="COALESCE(o.observed, 0)", n="n.n")
    + " AS observed_share_e6, "
    + _EXP.format(d="g.digit") + " AS benford_share_e6, "
    + _CHI.format(o="COALESCE(o.observed, 0)", n="n.n", d="g.digit")
    + " AS chi2_contrib_e3 "
    "FROM grid g LEFT JOIN obs o ON o.digit = g.digit CROSS JOIN n "
    "ORDER BY g.digit"
)

_Q104_DESCRIPTION = (
    "Q104: Benford first-digit audit on order amounts — observed vs "
    "log10(1+1/d) expected shares per digit 1-9 plus per-digit "
    "chi-square contributions (e6/e3 BIGINTs, leading digit taken "
    "lexically from the DECIMAL(30,6) rendering — no float log "
    "gymnastics; "
    "zero/NULL amounts excluded by declaration). One projection scan, "
    "9-ary map-side combine, broadcast 9-row grid completion so silent "
    "digits still render."
)


@query("q104_benford_audit", oracle=_Q104_ORACLE,
       description=_Q104_DESCRIPTION, tags=("quality", "profiling"))
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables(spark, sf_dir)["orders"]
    digits = (
        orders.where(
            F.col("o_totalprice").isNotNull()
            & F.expr(_NONZERO.format(x="o_totalprice")))
        .select(F.expr(_DIGIT.format(x="o_totalprice")).alias("digit"))
    )
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("observed"))
    n = obs.agg(F.sum("observed").cast("long").alias("n"))
    grid = spark.range(1, 10).select(F.col("id").cast("long").alias("digit"))
    o = "COALESCE(observed, 0)"
    return (
        grid.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce("observed", F.lit(0)).cast("long").alias("observed"),
            F.expr(_SHARE.format(o=o, n="n")).alias("observed_share_e6"),
            F.expr(_EXP.format(d="digit")).alias("benford_share_e6"),
            F.expr(_CHI.format(o=o, n="n", d="digit"))
            .alias("chi2_contrib_e3"),
        )
        .orderBy("digit")
    )


__all__ = ["q104"]
