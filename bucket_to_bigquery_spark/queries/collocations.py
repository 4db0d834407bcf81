"""q93: PMI
collocation mining — the top word bigrams by pointwise mutual
information over the corpus (the vocabulary/tokenizer-design primitive:
which adjacent pairs co-occur far more than chance — candidates for
merged tokens, stop-phrase lists, and quality signatures).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). Tokenization is
the shared q46-family contract (``operators.dedup.tokens`` /
``llm_queries._TOKS_SQL``).

    PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ),
    P(a,b) = c_ab / N_pairs over ADJACENT in-document pairs,
    P(t)   = c_t / N_tokens over all token instances.

A min-count floor (c_ab ≥ 5) kills the degenerate tail (hapax pairs
have the highest raw PMI by construction); the deliverable is the
top-100 by PMI with full (pmi, term_a, term_b) tie-break order.

Determinism (the q49k contract): all counts exact integers; each
pair's PMI is ONE identical-operand-order double expression scaled to
round(x·1e9) BIGINT (ln is the only libm call and sits inside the
rounding); the final order (pmi_e9 DESC, term_a, term_b) is total
because a pair appears once.

Scale design (100 TB): the corpus tokenizes ONCE into a cached
(doc_id, tokens) projection feeding both the pair and unigram counts —
two map-side-combined shuffles whose cardinality is the VOCABULARY
(pairs ≤ V², tokens ≤ V), not the corpus. The unigram frame broadcasts
into the two marginal joins (vocabulary-bounded), the scalar totals
broadcast via 1-row cross joins, and the top-100 is a TakeOrdered —
no global sort of the pair table. Nothing here scales with document
count except the two linear count passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from .llm_queries import _TOKS_SQL
from .registry import query, tables

_MIN_PAIR = 5   # pair-count floor
_TOP = 100      # rows returned

# one shared PMI template; {cab}=pair count, {np}=total pairs,
# {ca}/{cb}=unigram counts, {nt}=total tokens. Identical operand order
# on both engines; ln is the only libm call and sits inside the round.
_PMI = (
    "CAST(round(ln((CAST({cab} AS DOUBLE) / CAST({np} AS DOUBLE)) / "
    "((CAST({ca} AS DOUBLE) / CAST({nt} AS DOUBLE)) * "
    "(CAST({cb} AS DOUBLE) / CAST({nt} AS DOUBLE)))) * 1e9) AS BIGINT)"
)

_Q93_ORACLE = (
    f"WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents), "
    "pairs AS (SELECT unnest(CASE WHEN len(t) >= 2 THEN "
    "list_transform(range(1, len(t)), i -> "
    "struct_pack(a := t[i], b := t[i+1])) ELSE [] END) AS p FROM tok), "
    "pc AS (SELECT (p).a AS term_a, (p).b AS term_b, "
    "CAST(count(*) AS BIGINT) AS c_ab FROM pairs GROUP BY 1, 2), "
    "uc AS (SELECT u.term, CAST(count(*) AS BIGINT) AS c FROM tok, "
    "LATERAL unnest(t) AS u(term) GROUP BY u.term), "
    "nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc), "
    "np AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM pc), "
    "scored AS (SELECT pc.term_a, pc.term_b, pc.c_ab AS pair_count, "
    + _PMI.format(cab="pc.c_ab", np="np.n", ca="ua.c", cb="ub.c", nt="nt.n")
    + " AS pmi_e9 FROM pc "
    "JOIN uc ua ON ua.term = pc.term_a "
    "JOIN uc ub ON ub.term = pc.term_b "
    f"CROSS JOIN nt CROSS JOIN np WHERE pc.c_ab >= {_MIN_PAIR}) "
    "SELECT term_a, term_b, pair_count, pmi_e9 FROM scored "
    f"ORDER BY pmi_e9 DESC, term_a, term_b LIMIT {_TOP}"
)

_Q93_DESCRIPTION = (
    "Q93: PMI collocation mining — top-100 adjacent word pairs by "
    "pointwise mutual information (pair probability over in-document "
    "adjacent pairs vs the product of unigram probabilities), "
    "min-count floor 5. Counts exact ints; PMI one identical-operand-"
    "order double scaled to e9 (q49k contract). One cached tokenization "
    "feeds two vocabulary-bounded count shuffles; unigram marginals "
    "broadcast into the joins; totals broadcast as 1-row frames; "
    "TakeOrdered top-100 — no corpus-sized sort."
)


@query("q93_pmi_collocations", oracle=_Q93_ORACLE,
       description=_Q93_DESCRIPTION, tags=("llm", "profiling"))
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    # ONE tokenization pass shared by the pair and unigram counts
    tok = docs.select("doc_id", tokens(F.col("text")).alias("t")).cache()
    t = F.col("t")
    pair_structs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("a"),
                F.element_at(t, (i + F.lit(1)).cast("int")).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pc = (
        tok.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("term_a"), F.col("p.b").alias("term_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    uc = (
        tok.select(F.explode(t).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()  # two marginal joins + the token total read it
    )
    nt = uc.agg(F.sum("c").cast("long").alias("nt"))
    flo = pc.where(F.col("c_ab") >= _MIN_PAIR)
    np_ = pc.agg(F.sum("c_ab").cast("long").alias("np"))
    ua = uc.select(F.col("term").alias("term_a"), F.col("c").alias("ca"))
    ub = uc.select(F.col("term").alias("term_b"), F.col("c").alias("cb"))
    scored = (
        flo.join(F.broadcast(ua), "term_a")
        .join(F.broadcast(ub), "term_b")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(np_))
        .select(
            "term_a", "term_b", F.col("c_ab").alias("pair_count"),
            F.expr(_PMI.format(cab="c_ab", np="np", ca="ca", cb="cb",
                               nt="nt")).alias("pmi_e9"),
        )
    )
    return scored.orderBy(
        F.col("pmi_e9").desc(), "term_a", "term_b"
    ).limit(_TOP)


__all__ = ["q93"]
