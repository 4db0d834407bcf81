"""q98: per-source Zipf slope — the ordinary-
least-squares slope of ln(frequency) vs ln(rank) over each source's
top-50 terms (the corpus-health fingerprint: natural language sits
near −1; template/boilerplate feeds flatten, spam and OCR noise
steepen — a one-number companion to q83's divergence monitor).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). Tokenization is
the shared q46-family contract (``operators.dedup.tokens`` /
``llm_queries._TOKS_SQL``).

Determinism (the q49k contract, extended to OLS): float SUMS are
order-dependent, so each rank's four regression terms — ln r, ln f,
ln r·ln f, (ln r)² — are individually rounded to e12 BIGINTs (ln is
the only libm call, inside the rounding; ranks are exact row_numbers
under the total (count DESC, term ASC) order) and summed as integers;
the slope is then ONE identical-operand-order double over those exact
sums, scaled to e6. Sources with fewer than 2 ranked terms emit NULL
(the OLS denominator degenerates).

Scale design (100 TB): one tokenize + one map-side-combined
(source, term) count shuffle (the q83 shape); the rank window runs on
the COUNT frame (vocabulary-sized, not corpus-sized) partitioned by
source; everything after the top-50 filter is ≤ 50·|sources| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from .llm_queries import _TOKS_SQL
from .registry import query, tables

_R = 50  # ranks fitted per source

# per-rank regression terms ({r}=rank BIGINT, {c}=term count BIGINT)
_LX = "CAST(round(ln(CAST({r} AS DOUBLE)) * 1e12) AS BIGINT)"
_LY = "CAST(round(ln(CAST({c} AS DOUBLE)) * 1e12) AS BIGINT)"
_LXY = ("CAST(round(ln(CAST({r} AS DOUBLE)) * ln(CAST({c} AS DOUBLE)) "
        "* 1e12) AS BIGINT)")
_LXX = ("CAST(round(ln(CAST({r} AS DOUBLE)) * ln(CAST({r} AS DOUBLE)) "
        "* 1e12) AS BIGINT)")

# OLS slope from the exact integer sums; NULL when degenerate
_SLOPE = (
    "CASE WHEN {n} < 2 THEN NULL ELSE CAST(round((("
    "CAST({n} AS DOUBLE) * (CAST({sxy} AS DOUBLE) / 1e12) - "
    "(CAST({sx} AS DOUBLE) / 1e12) * (CAST({sy} AS DOUBLE) / 1e12)) / ("
    "CAST({n} AS DOUBLE) * (CAST({sxx} AS DOUBLE) / 1e12) - "
    "(CAST({sx} AS DOUBLE) / 1e12) * (CAST({sx} AS DOUBLE) / 1e12))"
    ") * 1e6) AS BIGINT) END"
)

_Q98_ORACLE = (
    f"WITH tok AS (SELECT source, unnest({_TOKS_SQL}) AS term "
    "FROM documents), "
    "tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c "
    "FROM tok GROUP BY source, term), "
    "ranked AS (SELECT source, c, CAST(row_number() OVER ("
    "PARTITION BY source ORDER BY c DESC, term ASC) AS BIGINT) AS r "
    "FROM tc), "
    f"top AS (SELECT * FROM ranked WHERE r <= {_R}), "
    "terms AS (SELECT source, "
    + _LX.format(r="r") + " AS lx, " + _LY.format(c="c") + " AS ly, "
    + _LXY.format(r="r", c="c") + " AS lxy, "
    + _LXX.format(r="r") + " AS lxx FROM top), "
    "sums AS (SELECT source, CAST(count(*) AS BIGINT) AS n_ranks, "
    "CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy, "
    "CAST(sum(lxy) AS BIGINT) AS sxy, CAST(sum(lxx) AS BIGINT) AS sxx "
    "FROM terms GROUP BY source) "
    "SELECT source, n_ranks, "
    + _SLOPE.format(n="n_ranks", sx="sx", sy="sy", sxy="sxy", sxx="sxx")
    + " AS zipf_slope_e6 FROM sums ORDER BY source"
)

_Q98_DESCRIPTION = (
    "Q98: per-source Zipf slope — OLS of ln(freq) on ln(rank) over the "
    "top-50 terms (count DESC, term ASC ranks). Per-rank regression "
    "terms individually e12-rounded BIGINTs (ln inside the rounding), "
    "integer sums, slope one identical-operand-order double to e6; "
    "NULL under 2 ranks. One tokenize + one (source,term) combine "
    "shuffle; the rank window runs on the vocabulary-sized count "
    "frame; post-filter frames are 50-per-source rows."
)


@query("q98_zipf_slope", oracle=_Q98_ORACLE, description=_Q98_DESCRIPTION,
       tags=("llm", "profiling"))
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    tc = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("term").asc())
    top = (
        tc.select("source", "term", "c",
                  F.row_number().over(w).cast("long").alias("r"))
        .where(F.col("r") <= _R)
    )
    terms = top.select(
        "source",
        F.expr(_LX.format(r="r")).alias("lx"),
        F.expr(_LY.format(c="c")).alias("ly"),
        F.expr(_LXY.format(r="r", c="c")).alias("lxy"),
        F.expr(_LXX.format(r="r")).alias("lxx"),
    )
    sums = terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum("lxy").cast("long").alias("sxy"),
        F.sum("lxx").cast("long").alias("sxx"),
    )
    return (
        sums.select(
            "source", "n_ranks",
            F.expr(_SLOPE.format(n="n_ranks", sx="sx", sy="sy",
                                 sxy="sxy", sxx="sxx"))
            .alias("zipf_slope_e6"),
        )
        .orderBy("source")
    )


__all__ = ["q98"]
