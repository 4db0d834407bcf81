"""New r10 surface (seventh batch) — q83: distribution-shift detection
— Jensen–Shannon divergence of each source's unigram distribution from
the corpus-wide distribution (the drift monitor of a training-data
pipeline: "which ingest source stopped looking like the corpus" — run
before mixing, after every backfill, and between snapshot versions).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension, registered r10). Tokenization is
the shared q46-family contract (``operators.dedup.tokens`` /
``llm_queries._TOKS_SQL``).

    JSD(p‖q) = ½ Σ_t p(t)·ln(p(t)/m(t)) + ½ Σ_t q(t)·ln(q(t)/m(t)),
    m = (p+q)/2;  p = source unigram dist, q = corpus dist.

Bounded vocabulary (the scale contract): distributions are over the
top-V (50) corpus terms plus an ``<other>`` tail bucket — at warehouse
scale the unigram vocabulary is unbounded, so the monitor fixes a
vocabulary by global frequency (TakeOrdered, broadcast) and lumps the
tail; the distribution stays complete (sums to 1) so the divergence is
still well-defined. p(t)=0 cells contribute only the q-side term
(x·ln x → 0), kept via a (source × vocabulary) grid join with
coalesce(0).

Determinism (the q49k contract): all counts exact integers; each CELL's
divergence contribution is one identical-operand-order double scaled to
round(x·1e9); per-source JSD is the order-free BIGINT sum. ln is the
only libm call and sits inside the rounding.

Scale design (100 TB): the corpus is tokenized ONCE and shuffled ONCE
to map-side-combined (source, term) partials; that frame is cached and
every downstream consumer — vocabulary selection (TakeOrdered),
tail-bucketed cells, global marginal, totals — derives from it (the
q80 lesson: without the cache each consumer replays the corpus scan).
The vocabulary (V+1 rows) and totals broadcast; the completion grid is
a cross of two cardinality-bounded frames (|sources| × V+1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from .llm_queries import _TOKS_SQL
from .registry import query, tables

_V = 50  # vocabulary size; everything else lumps into <other>
_OTHER = "<other>"

# per-cell JSD contribution; {cs}=source term count, {ns}=source total,
# {cg}=global term count, {ng}=global total. p/q/m inlined with identical
# operand order on both engines; the p-side term is gated on cs > 0.
_CELL = (
    "CAST(round(("
    "(CASE WHEN {cs} > 0 THEN 0.5 * (CAST({cs} AS DOUBLE) / CAST({ns} AS DOUBLE)) "
    "* ln((CAST({cs} AS DOUBLE) / CAST({ns} AS DOUBLE)) / "
    "(((CAST({cs} AS DOUBLE) / CAST({ns} AS DOUBLE)) + "
    "(CAST({cg} AS DOUBLE) / CAST({ng} AS DOUBLE))) / 2.0)) ELSE 0.0 END) "
    "+ 0.5 * (CAST({cg} AS DOUBLE) / CAST({ng} AS DOUBLE)) "
    "* ln((CAST({cg} AS DOUBLE) / CAST({ng} AS DOUBLE)) / "
    "(((CAST({cs} AS DOUBLE) / CAST({ns} AS DOUBLE)) + "
    "(CAST({cg} AS DOUBLE) / CAST({ng} AS DOUBLE))) / 2.0))"
    ") * 1e9) AS BIGINT)"
)

_Q83_ORACLE = (
    f"WITH tok AS (SELECT source, unnest({_TOKS_SQL}) AS term FROM documents), "
    "mapped AS (SELECT t.source, CASE WHEN v.term IS NOT NULL THEN t.term "
    "ELSE '{other}' END AS vterm FROM tok t LEFT JOIN "
    "(SELECT term FROM (SELECT term, row_number() OVER (ORDER BY count(*) "
    "DESC, term ASC) AS rank FROM tok GROUP BY term) WHERE rank <= {v}) v "
    "ON t.term = v.term), "
    "cells AS (SELECT source, vterm, CAST(count(*) AS BIGINT) AS cs "
    "FROM mapped GROUP BY source, vterm), "
    "gl AS (SELECT vterm, CAST(sum(cs) AS BIGINT) AS cg FROM cells "
    "GROUP BY vterm), "
    "ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM cells "
    "GROUP BY source), "
    "ng AS (SELECT CAST(sum(cs) AS BIGINT) AS ng FROM cells), "
    "grid AS (SELECT ns.source, ns.ns, gl.vterm, gl.cg, "
    "COALESCE(c.cs, 0) AS cs FROM ns CROSS JOIN gl "
    "LEFT JOIN cells c ON c.source = ns.source AND c.vterm = gl.vterm), "
    "contrib AS (SELECT source, ns, "
    + _CELL.format(cs="cs", ns="ns", cg="cg", ng="ng.ng")
    + " AS c_e9 FROM grid CROSS JOIN ng) "
    "SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens, "
    "CAST(sum(c_e9) AS BIGINT) AS jsd_e9 "
    "FROM contrib GROUP BY source ORDER BY source"
).format(v=_V, other=_OTHER)

_Q83_DESCRIPTION = (
    "Q83: per-source distribution shift — Jensen-Shannon divergence of "
    "each source's unigram distribution from the corpus distribution "
    "over a bounded vocabulary (top-50 by global frequency + <other> "
    "tail bucket, so the distributions stay complete at any scale). "
    "Counts exact ints; each cell's contribution one identical-operand-"
    "order double scaled to e9; per-source JSD the order-free BIGINT "
    "sum (q49k contract). One (source,term) shuffle, cached cell frame "
    "(the q80 lesson), vocabulary + totals broadcast, completion grid "
    "a cross of two cardinality-bounded frames."
)


@query("q83_js_divergence", oracle=_Q83_ORACLE,
       description=_Q83_DESCRIPTION, tags=("llm", "profiling"))
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    # ONE tokenization pass, ONE (source, term) shuffle; vocabulary,
    # global marginal, and cells all derive from this cached frame —
    # without it the corpus would tokenize once per consumer (q80 lesson)
    st = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()
    )
    vocab = (
        st.groupBy("term").agg(F.sum("c").cast("long").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("term").asc())
        .limit(_V).select("term")
    )
    cells = (
        st.join(F.broadcast(vocab.withColumn("in_v", F.lit(True))),
                "term", "left")
        .select(
            "source", "c",
            F.when(F.col("in_v").isNotNull(), F.col("term"))
            .otherwise(F.lit(_OTHER)).alias("vterm"),
        )
        .groupBy("source", "vterm")
        .agg(F.sum("c").cast("long").alias("cs"))
        .cache()  # re-read for the global marginal + totals
    )
    gl = cells.groupBy("vterm").agg(F.sum("cs").cast("long").alias("cg"))
    ns = cells.groupBy("source").agg(F.sum("cs").cast("long").alias("ns"))
    ng = cells.agg(F.sum("cs").cast("long").alias("ng"))
    grid = (
        ns.crossJoin(F.broadcast(gl))
        .join(cells, ["source", "vterm"], "left")
        .select("source", "ns", "vterm", "cg",
                F.coalesce("cs", F.lit(0)).cast("long").alias("cs"))
    )
    contrib = grid.crossJoin(F.broadcast(ng)).select(
        "source", "ns",
        F.expr(_CELL.format(cs="cs", ns="ns", cg="cg", ng="ng"))
        .alias("c_e9"),
    )
    return (
        contrib.groupBy("source")
        .agg(
            F.max("ns").cast("long").alias("n_tokens"),
            F.sum("c_e9").cast("long").alias("jsd_e9"),
        )
        .orderBy("source")
    )


__all__ = ["q83"]
