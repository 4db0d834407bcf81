"""q114: temperature-scaled source
sampling weights, the multilingual/multi-source LM training-mixture
primitive: raw source proportions p_s (by character mass, the token
proxy the corpus carries) are flattened to w_s = p_s^α / Σ p_t^α with
α = 0.7 — the upsampling-of-small-sources rule used when a training
mixture must not be dominated by its largest source. Output per
source: docs, char mass, raw share, flattened weight, and the
effective upsampling factor w/p.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism (the q98/q105 transcendental contract): p_s is one
identical-operand-order double over exact BIGINT char sums; the
pow(p, 0.7) term is computed once per source and e12-rounded to
BIGINT BEFORE the normalizing sum, so float summation order cannot
move the denominator; weight and upsampling are each ONE double over
those exact integers, e6-rounded. pow/ln agree across engines at e12
granularity (pinned by the q98/q105 precedent and this entry's own
two-SF parity).

Scale design (100 TB): one map-side-combined (source) aggregation to a
|sources|-row frame; the global char total and the pow-term sum ride
1-row broadcast crosses. Nothing after the first combine is
row-scaled. The α knob is a literal — re-deriving the mixture for a
new temperature is a |sources|-row recompute, not a corpus pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_ALPHA = 0.7

_Q114_ORACLE = (
    "WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY source), "
    "tot AS (SELECT CAST(sum(chars) AS BIGINT) AS t FROM s), "
    "p AS (SELECT source, n_docs, chars, "
    "CAST(chars AS DOUBLE) / (SELECT CAST(t AS DOUBLE) FROM tot) AS p_raw, "
    f"CAST(round(pow(CAST(chars AS DOUBLE) / (SELECT CAST(t AS DOUBLE) "
    f"FROM tot), {_ALPHA}) * 1e12) AS BIGINT) AS pw_e12 FROM s), "
    "z AS (SELECT CAST(sum(pw_e12) AS BIGINT) AS z FROM p) "
    "SELECT source, n_docs, chars, "
    "CAST(round(p_raw * 1e6) AS BIGINT) AS p_raw_e6, "
    "CAST(round(CAST(pw_e12 AS DOUBLE) / (SELECT CAST(z AS DOUBLE) FROM z) "
    "* 1e6) AS BIGINT) AS weight_e6, "
    "CAST(round(CAST(pw_e12 AS DOUBLE) / (SELECT CAST(z AS DOUBLE) FROM z) "
    "/ p_raw * 1e6) AS BIGINT) AS upsample_e6 "
    "FROM p ORDER BY source"
)

_Q114_DESCRIPTION = (
    "Q114: temperature-scaled source sampling weights (alpha = 0.7) — "
    "the LM training-mixture flattening rule w_s = p_s^a / sum p^a over "
    "per-source character mass. Exact BIGINT char sums; each pow term "
    "e12-rounded BEFORE the normalizing integer sum (the q98/q105 "
    "transcendental contract — summation order cannot move the "
    "denominator); weight and upsampling factor one double each over "
    "exact integers, e6. One map-side-combined source aggregation; "
    "1-row broadcast totals; |sources| output rows."
)


@query("q114_alpha_sampling", oracle=_Q114_ORACLE,
       description=_Q114_DESCRIPTION, tags=("llm", "mixture"))
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    ).cache()  # two consumers (tot + p): uncached, each replays the
    #            corpus scan (q80 lesson)
    tot = s.agg(F.sum("chars").cast("long").alias("t"))
    p = (
        s.crossJoin(F.broadcast(tot))
        .withColumn(
            "p_raw", F.col("chars").cast("double") / F.col("t").cast("double")
        )
        .withColumn(
            "pw_e12",
            F.round(F.pow(F.col("p_raw"), F.lit(_ALPHA)) * F.lit(1e12))
            .cast("long"),
        )
    )
    z = p.agg(F.sum("pw_e12").cast("long").alias("z"))
    w = F.col("pw_e12").cast("double") / F.col("z").cast("double")
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "source", "n_docs", "chars",
            F.round(F.col("p_raw") * F.lit(1e6)).cast("long")
            .alias("p_raw_e6"),
            F.round(w * F.lit(1e6)).cast("long").alias("weight_e6"),
            F.round(w / F.col("p_raw") * F.lit(1e6)).cast("long")
            .alias("upsample_e6"),
        )
        .orderBy("source")
    )


__all__ = ["q114"]
