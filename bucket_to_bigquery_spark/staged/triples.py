"""STAGED r17 surface (built late r13, NOT registered — GATE_r13.md's
round-17 note budgets the slot) — q145: frequent item TRIPLES — the
3-itemset extension of q76's frequent pairs (and the support-side
companion to q138's normalized pair cosine): the top-20 three-part
combinations that co-occur in the most orders, the classic
market-basket lift from pairwise to higher-order affinity.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: exact integer supports; the triple is emitted in
canonical ascending key order (p1 < p2 < p3); top-20 tie-breaks
(support DESC, p1, p2, p3). Ordered by the same key.

Scale design (100 TB): candidate triples come from the per-basket
double self-join on the orderkey — the fan-out is Σ_orders C(L,3)
with L bounded by the basket (max 17 here, ≤680 triples per order),
NEVER a three-way join of the catalog; one shuffle groups triples to
supports; the top-20 is a distributed TakeOrdered over the triple
frame, never a global sort. A DF-style cap on pathological baskets
is the documented q47/q138 seam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import tables

_TOP = 20

_Q145_ORACLE = (
    "WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
    "FROM lineitem), "
    "triples AS (SELECT a.p AS p1, b.p AS p2, c.p AS p3, "
    "CAST(count(*) AS BIGINT) AS support "
    "FROM items a JOIN items b ON a.o = b.o AND a.p < b.p "
    "JOIN items c ON b.o = c.o AND b.p < c.p "
    "GROUP BY a.p, b.p, c.p) "
    "SELECT p1, p2, p3, support FROM triples "
    f"ORDER BY support DESC, p1, p2, p3 LIMIT {_TOP}"
)

_Q145_DESCRIPTION = (
    "Q145: top-20 frequent item triples (basket = order) — the "
    "3-itemset extension of q76's frequent pairs. Exact integer "
    "supports, canonical ascending triple order, ties (support DESC, "
    "p1, p2, p3). Scale-correct: triples from the per-basket double "
    "self-join (fan-out sum-of-C(L,3), basket-bounded — never a "
    "catalog three-way join), one support shuffle, distributed "
    "TakeOrdered top-20 (never a global sort)."
)


def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    # three consumers of the distinct (basket, item) frame -> cache
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct().cache()
    a, b, c = items.alias("a"), items.alias("b"), items.alias("c")
    triples = (
        a.join(b, (F.col("a.o") == F.col("b.o"))
               & (F.col("a.p") < F.col("b.p")))
        .join(c, (F.col("b.o") == F.col("c.o"))
              & (F.col("b.p") < F.col("c.p")))
        .groupBy(
            F.col("a.p").alias("p1"),
            F.col("b.p").alias("p2"),
            F.col("c.p").alias("p3"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return triples.orderBy(
        F.col("support").desc(), "p1", "p2", "p3").limit(_TOP)


STAGED = {
    "q145_frequent_triples": (q145, _Q145_ORACLE, _Q145_DESCRIPTION,
                              ("basket", "relational")),
}


__all__ = ["q145", "STAGED"]
