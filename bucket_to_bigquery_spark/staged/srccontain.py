"""STAGED r18 surface (built late r13, NOT registered — GATE_r13.md's
round-18 note budgets the slot) — q153: DIRECTIONAL source
containment matrix — the asymmetric companion to q89's symmetric
Jaccard: for every ORDERED source pair (a → b), the fraction of a's
distinct 5-gram shingles that also appear in b. Jaccard smears the
provenance signal this exists for — a small source wholly copied
into a large one scores near-zero Jaccard but containment ≈ 1.0 in
the copy direction — which is exactly the "who ingests whom"
question a corpus-governance review asks.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the q89 contract end to end — the shared tokenizer +
5-gram shingles, DISTINCT per-source sets keyed on the 60-bit
md5 fold. Since the r15 hoist (GATE_r13 deferred #7) the WHOLE
tok/raw/h/sizes pipeline is overlap._SRC_SHINGLE_CTES /
overlap.source_shingle_sets — one definition each side, the q89
twins; MODULE_DEPS records the overlap/llm/dedup edges, registers
r18 after the r15 llm rotation; exact integer counts; containment_e6 =
n_shared·1e6 div n_a (the truncating division the convention pin
covers). Pairs with zero shared shingles are omitted (the q89
absent-pair convention). Ordered (source_a, source_b).

Scale design (100 TB): the intersection is computed ONCE per
unordered pair (the q89 shape — fold-keyed equi-join fanning out per
shared shingle only) and BOTH orientations derive analytically from
it (n_shared is symmetric; only the denominator flips), so the
directional matrix costs no second join. Same verifier-class caveat
as q89: the per-shingle pair fan-out grows with shared mass — q89b's
MinHash scan is the standing instrument; this exact form runs on
flagged pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.overlap import _SRC_SHINGLE_CTES, source_shingle_sets
from ..queries.registry import tables

_C_FMT = "CAST({i} * 1000000 {div} {na} AS BIGINT)"

_Q153_ORACLE = (
    # the tok/raw/h/sizes pipeline is overlap._SRC_SHINGLE_CTES — ONE
    # definition with q89 (hoisted r15, GATE_r13 deferred #7); only the
    # pair-orientation CTEs below are q153's own
    f"WITH {_SRC_SHINGLE_CTES}, "
    "inter AS (SELECT a.source AS sa, b.source AS sb, "
    "CAST(count(*) AS BIGINT) AS n_shared FROM h a JOIN h b "
    "ON a.sh = b.sh AND a.source < b.source "
    "GROUP BY a.source, b.source), "
    "sym AS (SELECT sa AS source_a, sb AS source_b, n_shared FROM inter "
    "UNION ALL SELECT sb, sa, n_shared FROM inter) "
    "SELECT s.source_a, s.source_b, za.n AS n_a, s.n_shared, "
    + _C_FMT.format(i="s.n_shared", div="//", na="za.n")
    + " AS containment_e6 FROM sym s "
    "JOIN sizes za ON za.source = s.source_a "
    "ORDER BY source_a, source_b"
)

_Q153_DESCRIPTION = (
    "Q153: directional source containment — for every ORDERED source "
    "pair, the fraction of a's distinct 5-gram shingles present in b "
    "(the q89 fold/tokenizer contract; exact counts; containment_e6 "
    "by truncating division) — the provenance signal symmetric "
    "Jaccard smears (a small source copied into a large one reads "
    "near-zero Jaccard but containment ~1.0 in the copy direction). "
    "The intersection computes ONCE per unordered pair (the q89 "
    "fold-keyed join); both orientations derive analytically — no "
    "second join. q89's verifier-class caveat applies; q89b stays "
    "the standing scan."
)


def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    # the shared cached frame (three consumers here: sizes + both join
    # sides) — ONE builder definition with q89 (hoisted r15)
    h = source_shingle_sets(docs)
    # ONE consumer (za) — no cache (q89 caches its sizes because it
    # has two; the review pass caught the blind copy)
    sizes = h.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    a = h.select(F.col("source").alias("sa"), "sh")
    b = h.select(F.col("source").alias("sb"), "sh")
    inter = (
        a.join(b, on=[a.sh == b.sh, a.sa < b.sb])
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .cache()  # two consumers: the two orientations
    )
    sym = inter.select(
        F.col("sa").alias("source_a"), F.col("sb").alias("source_b"),
        "n_shared",
    ).unionAll(inter.select(
        F.col("sb").alias("source_a"), F.col("sa").alias("source_b"),
        "n_shared",
    ))
    za = sizes.select(F.col("source").alias("source_a"),
                      F.col("n").alias("n_a"))
    return (
        sym.join(F.broadcast(za), "source_a")
        .select(
            "source_a", "source_b", "n_a", "n_shared",
            F.expr(_C_FMT.format(i="n_shared", div="div", na="n_a"))
            .alias("containment_e6"),
        )
        .orderBy("source_a", "source_b")
    )


STAGED = {
    "q153_source_containment": (q153, _Q153_ORACLE, _Q153_DESCRIPTION,
                                ("llm", "governance")),
}


__all__ = ["q153", "STAGED"]
