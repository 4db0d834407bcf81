"""q117: vocabulary coverage curve —
the share of ALL token occurrences covered by the top-K most frequent
terms, for K ∈ {10, 100, 1000}. The tokenizer-design readout (how big
must a vocabulary be before OOV mass is negligible) and the
boilerplate detector (a corpus where K=10 already covers half the
mass is template-dominated) — the cumulative companion to q98's Zipf
slope over the same term-frequency frame.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).
Tokenization is the shared q46-family contract
(``operators.dedup.tokens`` / ``llm_queries._TOKS_SQL``).

Determinism: ranks are exact row_numbers under the total
(count DESC, term ASC) order (the q98 tie-break); covered and total
occurrence masses are exact BIGINT sums; coverage is ONE double over
those exact integers, e6-rounded. When the vocabulary is smaller than
K, n_terms reports the vocabulary size and coverage is exactly 1e6.
Ordered by k.

Scale design (100 TB): one tokenize + one map-side-combined (term)
count shuffle to a vocabulary-sized frame; the top-1000 selection is
a distributed TakeOrdered (per-partition heap, no global sort
materialization); the rank window and the grid join run on the
≤1000-row selection — bounded by the K cap, not the corpus. The
total-mass scalar rides a 1-row broadcast. Nothing after the first
combine is corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from .llm_queries import _TOKS_SQL
from .registry import query, tables

_K_GRID = (10, 100, 1000)

_Q117_ORACLE = (
    f"WITH tok AS (SELECT unnest({_TOKS_SQL}) AS term FROM documents), "
    "tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c "
    "FROM tok GROUP BY term), "
    "tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tc), "
    "ranked AS (SELECT c, CAST(row_number() OVER ("
    "ORDER BY c DESC, term ASC) AS BIGINT) AS r FROM tc), "
    f"grid AS (SELECT unnest([{', '.join(str(k) for k in _K_GRID)}]) AS k) "
    "SELECT CAST(g.k AS BIGINT) AS k, "
    "CAST(count(*) AS BIGINT) AS n_terms, "
    "CAST(sum(ranked.c) AS BIGINT) AS covered_occ, "
    "(SELECT t FROM tot) AS total_occ, "
    "CAST(round(CAST(sum(ranked.c) AS DOUBLE) / "
    "(SELECT CAST(t AS DOUBLE) FROM tot) * 1e6) AS BIGINT) "
    "AS coverage_e6 "
    "FROM grid g JOIN ranked ON ranked.r <= g.k "
    "GROUP BY g.k ORDER BY k"
)

_Q117_DESCRIPTION = (
    "Q117: vocabulary coverage curve — share of all token occurrences "
    "covered by the top-K terms (K in {10, 100, 1000}) under the "
    "shared tokenizer contract, ranks tie-broken (count DESC, term "
    "ASC) per q98. Exact BIGINT occurrence masses; coverage one double "
    "over exact integers, e6. One tokenize + one (term) combine "
    "shuffle; distributed TakeOrdered top-1000 (no global sort); rank "
    "window and grid join on the <=1000-row selection — K-bounded, "
    "not corpus-bounded."
)


@query("q117_ngram_coverage", oracle=_Q117_ORACLE,
       description=_Q117_DESCRIPTION, tags=("llm", "profiling"))
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    tc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()  # two consumers (tot + top): uncached, each replays
        #           the corpus tokenize (q80 lesson)
    )
    tot = tc.agg(F.sum("c").cast("long").alias("t"))
    # distributed top-K: TakeOrderedAndProject under the total order —
    # only the K-cap rows ever leave the executors
    top = tc.orderBy(F.col("c").desc(), F.col("term").asc()).limit(
        max(_K_GRID))
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    ranked = top.select(
        "c", F.row_number().over(w).cast("long").alias("r"))
    grid = spark.createDataFrame(
        [(k,) for k in _K_GRID], "k long")
    return (
        ranked.join(F.broadcast(grid), F.col("r") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("c").cast("long").alias("covered_occ"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k", "n_terms", "covered_occ",
            F.col("t").alias("total_occ"),
            F.round(
                F.col("covered_occ").cast("double")
                / F.col("t").cast("double") * F.lit(1e6)
            ).cast("long").alias("coverage_e6"),
        )
        .orderBy("k")
    )


__all__ = ["q117"]
