"""STAGED r19 surface (built in r14, NOT registered — GATE_r14.md's
round-19 note budgets the slot) — q159: recall@5 audit of the q141 PQ
asymmetric-distance scan against the EXACT e12 top-5 — the
quality-measurement leg the compressed-serving family was missing:
q48f audits the kNN labels of the exact path, q139/q141 verify the PQ
encode/serve mechanics, but nothing yet MEASURES what the 32x
compression costs in retrieval quality, per query, under a full value
oracle.

ONE scan definition each way (the q149/q157 discipline): the builder
CALLS pq_ann.pq_adc_topk — the same function q141 registers — and the
oracle embeds q141's oracle text (_Q141_ORACLE) verbatim as a
subquery (pinned by test); the exact leg re-derives the e12
squared-distance contract from pq_ann's own twin strings, so both
legs share their distance definition with the audited code.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: both top-5 sets are exact-integer ranked with
(distance ASC, id ASC) total orders; hits are exact set
intersections; recall_e6 is the truncating integer division (the
shared division convention); id-sum checksums pin the actual sets,
not just their overlap. ORDER BY the unique query id.

Scale design (100 TB): the ADC leg inherits q141's plan (broadcast
distance tables, corpus scanned as codes). The exact leg is
bounded BY CONTRACT to the audited query slice (|Q| = 10): a
broadcast of the 10 query vectors streams over the corpus once —
|Q| x n distance rows, never n x n — and per-query top-5 is a
window over that. At 100 TB the audit cost grows linearly in the
corpus with a 10x constant, the price of measuring recall exactly;
sampled-corpus recall is the documented cheap alternative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables
from .pq_ann import (
    _ADC_K,
    _D2_E12_SPARK,
    _D2_E12_SQL,
    _N_QUERIES,
    _Q141_ORACLE,
    pq_adc_topk,
)

_Q159_ORACLE = (
    "WITH adc AS (SELECT * FROM (" + _Q141_ORACLE + ")), "
    "qv AS (SELECT vec_id AS q_id, embedding AS qvec FROM embeddings "
    f"WHERE vec_id < {_N_QUERIES}), "
    "xd AS (SELECT q_id, vec_id AS n_id, "
    + _D2_E12_SQL.format(a="qvec", b="embedding")
    + " AS d2 FROM qv, embeddings WHERE vec_id != q_id), "
    "extop AS (SELECT q_id, n_id FROM xd "
    "QUALIFY row_number() OVER (PARTITION BY q_id "
    f"ORDER BY d2 ASC, n_id ASC) <= {_ADC_K}), "
    "hits AS (SELECT extop.q_id, COUNT(adc.n_id) AS n_hits "
    "FROM extop LEFT JOIN adc ON adc.q_id = extop.q_id "
    "AND adc.n_id = extop.n_id GROUP BY extop.q_id), "
    "sums AS (SELECT e.q_id, SUM(e.n_id) AS exact_id_sum, "
    "(SELECT SUM(a.n_id) FROM adc a WHERE a.q_id = e.q_id) "
    "AS adc_id_sum FROM extop e GROUP BY e.q_id) "
    "SELECT CAST(hits.q_id AS BIGINT) AS q_id, "
    "CAST(n_hits AS BIGINT) AS n_hits, "
    f"CAST(n_hits * 1000000 // {_ADC_K} AS BIGINT) AS recall_e6, "
    "CAST(exact_id_sum AS BIGINT) AS exact_id_sum, "
    "CAST(adc_id_sum AS BIGINT) AS adc_id_sum "
    "FROM hits JOIN sums ON hits.q_id = sums.q_id ORDER BY q_id"
)

_Q159_DESCRIPTION = (
    "Q159: recall@5 audit of the q141 PQ ADC scan vs the exact e12 "
    "top-5 — per audited query: exact hit count, truncating-div "
    "recall_e6, and id-sum checksums of both neighbor sets. ONE scan "
    "definition each way: the builder calls pq_ann.pq_adc_topk and "
    "the oracle embeds q141's oracle verbatim (pinned by test); the "
    "exact leg shares pq_ann's e12 distance twins. Scale-correct: "
    "ADC leg inherits q141's broadcast-table plan; the exact leg "
    "broadcasts the 10 query vectors over ONE corpus pass (|Q| x n, "
    "never n x n) — the declared linear price of exact recall."
)


def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    queries_df = emb.where(F.col("vec_id") < _N_QUERIES)
    # two consumers (the hit join + the adc checksum aggregate) ->
    # cache; if uncached, the whole ADC scan (assignment pass included)
    # would run twice
    adc = pq_adc_topk(emb, queries_df, k=_ADC_K).select(
        "q_id", F.col("n_id").alias("adc_n_id")).cache()
    qv = queries_df.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec"))
    xd = (
        emb.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.expr(_D2_E12_SPARK.format(a="qvec", b="embedding"))
            .alias("d2"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(
        F.col("d2").asc(), F.col("n_id").asc())
    extop = (
        xd.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= _ADC_K)
        .select("q_id", "n_id")
        # two consumers (the hit join + the checksum aggregate) ->
        # cache the |Q| x 5 exact top-k frame
        .cache()
    )
    hits = (
        extop.join(
            adc,
            (extop["q_id"] == adc["q_id"])
            & (extop["n_id"] == adc["adc_n_id"]),
            "left",
        )
        .groupBy(extop["q_id"].alias("q_id"))
        .agg(F.count("adc_n_id").cast("long").alias("n_hits"))
    )
    exact_sums = extop.groupBy("q_id").agg(
        F.sum("n_id").cast("long").alias("exact_id_sum"))
    adc_sums = adc.groupBy("q_id").agg(
        F.sum("adc_n_id").cast("long").alias("adc_id_sum"))
    return (
        hits.join(exact_sums, "q_id")
        .join(adc_sums, "q_id")
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            "n_hits",
            F.expr(f"cast(n_hits * 1000000 div {_ADC_K} as bigint)")
            .alias("recall_e6"),
            "exact_id_sum", "adc_id_sum",
        )
        .orderBy("q_id")
    )


STAGED = {
    "q159_pq_recall_audit": (q159, _Q159_ORACLE, _Q159_DESCRIPTION,
                             ("llm", "similarity", "eval")),
}


__all__ = ["q159", "STAGED"]
