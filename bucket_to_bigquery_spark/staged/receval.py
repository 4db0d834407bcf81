"""STAGED r18 surface (built late r13, NOT registered — GATE_r13.md's
round-18 note budgets the slot) — q149: leave-one-out hit-rate@5 of
the q138 co-occurrence recommender — the OFFLINE EVALUATION operator
a recommender pipeline runs after building neighbor lists: for every
basket with ≥ 2 distinct items, hold out the highest-partkey item,
form the prediction set as the union of the remaining items' top-5
cosine neighbors, and report how often the held-out item is in it.

IN-SAMPLE by design (documented, not hidden): the neighbor lists are
fitted on the FULL corpus including the held-out co-occurrences, so
the rate is an upper bound — the standard quick capability audit, not
a generalization claim (a train/test split eval composes this with
q72's leakage-safe splitter).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the hold-out is the MAX partkey (exact), the neighbor
lists are q138's (imported builder on the Spark side; the oracle
embeds q138's oracle text AS A SUBQUERY — one definition, no drift;
MODULE_DEPS records the cooccur.py edge), the prediction set is a
DISTINCT union, and the report is exact integer counts with a
truncating-div rate. One row.

Scale design (100 TB): everything rides frames the q138 build
already bounds — the eval adds one per-basket max/count combine, one
context×neighbor equi-join (fan-out ≤ |basket|·k), a DISTINCT on
(basket, prediction), and a 1-row aggregate. No new fact-scale
shuffles beyond q138's own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import tables
from .cooccur import _Q138_ORACLE, q138

_Q149_ORACLE = (
    "WITH nb AS (SELECT partkey, neighbor FROM (" + _Q138_ORACLE + ")), "
    "items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
    "FROM lineitem), "
    "sized AS (SELECT o, CAST(max(p) AS BIGINT) AS h FROM items "
    "GROUP BY o HAVING count(*) >= 2), "
    "ctx AS (SELECT i.o, i.p FROM items i JOIN sized s ON i.o = s.o "
    "WHERE i.p != s.h), "
    "pred AS (SELECT DISTINCT ctx.o, nb.neighbor FROM ctx "
    "JOIN nb ON ctx.p = nb.partkey), "
    "hits AS (SELECT s.o, CASE WHEN p.neighbor IS NOT NULL "
    "THEN 1 ELSE 0 END AS hit FROM sized s LEFT JOIN pred p "
    "ON p.o = s.o AND p.neighbor = s.h) "
    "SELECT CAST(count(*) AS BIGINT) AS n_eval, "
    "CAST(sum(hit) AS BIGINT) AS n_hits, "
    "CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS hit_rate_e6 "
    "FROM hits"
)

_Q149_DESCRIPTION = (
    "Q149: leave-one-out hit-rate@5 of the q138 co-occurrence "
    "recommender — hold out each >=2-item basket's max-partkey item, "
    "predict via the union of the remaining items' top-5 cosine "
    "neighbors, report exact hit counts + truncating-div rate "
    "(IN-SAMPLE upper bound by declared design — compose with q72's "
    "splitter for a held-out eval). The oracle embeds q138's oracle "
    "text as a subquery and the builder calls q138's builder — one "
    "neighbor definition, no drift. Adds only basket-bounded joins "
    "and a 1-row aggregate on top of q138's own frames."
)


def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    nb = q138(spark, sf_dir).select("partkey", "neighbor")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    sized = (
        items.groupBy("o")
        .agg(F.max("p").cast("long").alias("h"),
             F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .drop("n")
    )
    ctx = items.join(sized, "o").where(F.col("p") != F.col("h"))
    pred = (
        ctx.join(nb, ctx.p == nb.partkey)
        .select("o", "neighbor")
        .distinct()
    )
    hits = (
        sized.join(
            pred,
            (sized.o == pred.o) & (pred.neighbor == sized.h),
            "left",
        )
        .select(
            F.when(pred.neighbor.isNotNull(), 1).otherwise(0)
            .alias("hit"))
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum("hit").cast("long").alias("n_hits"),
        F.expr("sum(hit) * 1000000 div count(*)").cast("long")
        .alias("hit_rate_e6"),
    )


STAGED = {
    "q149_recommender_hit_rate": (q149, _Q149_ORACLE, _Q149_DESCRIPTION,
                                  ("basket", "similarity")),
}


__all__ = ["q149", "STAGED"]
