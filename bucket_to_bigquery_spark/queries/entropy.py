"""q105:
per-source unigram entropy — Shannon entropy of each source's token
distribution plus its normalized efficiency H/ln(V) (the text-
diversity fingerprint beside q98's Zipf slope and q83's divergence:
templated/boilerplate feeds collapse toward 0 efficiency, random noise
pushes toward 1 — the pair (entropy, efficiency) separates "small
vocabulary" from "skewed vocabulary").

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). Tokenization is
the shared q46-family contract (``operators.dedup.tokens`` /
``llm_queries._TOKS_SQL``).

Determinism (the q98 per-term contract): float sums are order-
dependent, so each term's −p·ln p is individually rounded to an e12
BIGINT (ln inside the rounding; p = c/n from exact counts) and the
per-source entropy is the order-free integer sum, emitted at e9;
efficiency divides by ln(V) in ONE double over the exact sum and
term count, NULL for single-term sources (ln 1 = 0).

Scale design (100 TB): one tokenize + one map-side-combined
(source, term) count shuffle (the q83/q98 shape); per-term
contributions and both aggregates run on the vocabulary-sized count
frame, never on rows; the source totals broadcast back via a
|sources|-row join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from .llm_queries import _TOKS_SQL
from .registry import query, tables

# per-term entropy contribution, e12 ({c}=term count, {n}=source total)
_TERM = ("CAST(round(-(CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE)) * "
         "ln(CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE)) * 1e12) "
         "AS BIGINT)")
# efficiency H / ln(V) from the exact sum {s} (e12) and term count {v}
_EFF = ("CASE WHEN {v} < 2 THEN NULL ELSE CAST(round("
        "(CAST({s} AS DOUBLE) / 1e12) / ln(CAST({v} AS DOUBLE)) * 1e6) "
        "AS BIGINT) END")

_Q105_ORACLE = (
    f"WITH tok AS (SELECT source, unnest({_TOKS_SQL}) AS term "
    "FROM documents), "
    "tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c "
    "FROM tok GROUP BY source, term), "
    "ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tc "
    "GROUP BY source), "
    "terms AS (SELECT tc.source, "
    + _TERM.format(c="tc.c", n="ns.n")
    + " AS h FROM tc JOIN ns ON ns.source = tc.source), "
    "sums AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms, "
    "CAST(sum(h) AS BIGINT) AS s FROM terms GROUP BY source) "
    "SELECT su.source, ns.n AS n_tokens, su.n_terms, "
    "CAST(round(CAST(su.s AS DOUBLE) / 1e3) AS BIGINT) AS entropy_e9, "
    + _EFF.format(s="su.s", v="su.n_terms")
    + " AS efficiency_e6 FROM sums su JOIN ns ON ns.source = su.source "
    "ORDER BY su.source"
)

_Q105_DESCRIPTION = (
    "Q105: per-source unigram Shannon entropy + normalized efficiency "
    "H/ln(V) — per-term -p*ln p contributions individually e12-rounded "
    "and integer-summed (the q98 per-term contract; ln inside the "
    "rounding), entropy at e9, efficiency one double over the exact "
    "sum (NULL for single-term sources). One tokenize + one "
    "(source,term) combine shuffle; everything downstream "
    "vocabulary-sized."
)


@query("q105_unigram_entropy", oracle=_Q105_ORACLE,
       description=_Q105_DESCRIPTION, tags=("llm", "profiling"))
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    tc = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()  # two consumers: source totals + per-term contributions
    )
    ns = tc.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    terms = (
        tc.join(F.broadcast(ns), "source")
        .select("source", F.expr(_TERM.format(c="c", n="n")).alias("h"))
    )
    sums = terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("h").cast("long").alias("s"),
    )
    return (
        sums.join(F.broadcast(ns), "source")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            "n_terms",
            F.round(F.col("s").cast("double") / F.lit(1e3))
            .cast("long").alias("entropy_e9"),
            F.expr(_EFF.format(s="s", v="n_terms")).alias("efficiency_e6"),
        )
        .orderBy("source")
    )


__all__ = ["q105"]
