"""STAGED r17 surface (built late r13, NOT registered — GATE_r13.md's
round-17 note budgets the slot) — q138: item-item co-occurrence
cosine top-k — the classic "customers who bought X also bought Y"
neighbor list: items are parts, baskets are orders, and an item
pair's affinity is the cosine of their basket-incidence vectors,
cos(i,j) = c_ij / √(f_i·f_j) — computable from the co-occurrence
count c_ij and the item frequencies alone, no explicit vectors.
Extends q76 (frequent pairs by raw support) with the
frequency-normalized ranking that raw support cannot express (a
ubiquitous item co-occurs with everything; cosine discounts it).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: c_ij, f_i, f_j are exact integers; the only float is
the final cosine c/(√f_i·√f_j), composed of IEEE-correctly-rounded
sqrt/multiply/divide on exact integers in a fixed order — bit-equal
across engines — and the per-item ranking tie-breaks on
(cosine DESC, neighbor ASC). Ordered by (partkey, rank).

Scale design (100 TB): candidate pairs come from a per-basket
self-join on the orderkey — NEVER an all-pairs item join: the pair
fan-out is Σ_orders C(L,2), and L (distinct items per basket) is
bounded by the basket, not the catalog (max 17 in this corpus; a
DF-style cap on pathological baskets is the documented q47 seam).
One shuffle groups pairs to c_ij; the frequency attach joins on the
|items|-row frame; the top-k window partitions by item over the
pair frame (bounded by Σ C(L,2), far below fact scale). Mirrored
orientation doubles the pair frame in place of a second join pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_K = 5

_Q138_ORACLE = (
    "WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
    "FROM lineitem), "
    "f AS (SELECT p, CAST(count(*) AS BIGINT) AS f FROM items GROUP BY p), "
    "pairs AS (SELECT a.p AS i, b.p AS j, CAST(count(*) AS BIGINT) AS c "
    "FROM items a JOIN items b ON a.o = b.o AND a.p < b.p "
    "GROUP BY a.p, b.p), "
    "sym AS (SELECT i, j, c FROM pairs "
    "UNION ALL SELECT j AS i, i AS j, c FROM pairs), "
    "scored AS (SELECT sym.i, sym.j, sym.c, fi.f AS f_i, fj.f AS f_j, "
    "CAST(sym.c AS DOUBLE) / (sqrt(CAST(fi.f AS DOUBLE)) * "
    "sqrt(CAST(fj.f AS DOUBLE))) AS cosine "
    "FROM sym JOIN f fi ON sym.i = fi.p JOIN f fj ON sym.j = fj.p) "
    "SELECT i AS partkey, CAST(row_number() OVER (PARTITION BY i "
    "ORDER BY cosine DESC, j ASC) AS BIGINT) AS rank, "
    "j AS neighbor, c AS n_cobaskets, f_i, f_j, cosine FROM scored "
    f"QUALIFY rank <= {_K} ORDER BY partkey, rank"
)

_Q138_DESCRIPTION = (
    "Q138: item-item co-occurrence cosine top-5 neighbor lists "
    "(basket = order, item = part) — cos(i,j) = c_ij/sqrt(f_i*f_j) "
    "from co-occurrence counts and item frequencies alone; the "
    "frequency-normalized companion to q76's raw-support pairs. "
    "Exact integer counts; the one float is a fixed-order IEEE "
    "sqrt/mul/div on exact integers (bit-equal across engines); ties "
    "break (cosine DESC, neighbor ASC). Scale-correct: pairs from the "
    "per-basket self-join (fan-out sum-of-C(L,2), basket-bounded, "
    "never all-pairs of the catalog), one pair shuffle, top-k window "
    "over the pair frame."
)


def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    # distinct (basket, item): two consumers (self-join sides share one
    # scan via the cache; frequencies are the third) -> cache
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct().cache()
    f = items.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("f"))
    a = items.alias("a")
    b = items.alias("b")
    # two consumers (both union orientations) — without the cache the
    # costliest stage (the basket self-join + pair shuffle) runs twice
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o"))
               & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("i"), F.col("b.p").alias("j"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()
    )
    sym = pairs.unionAll(
        pairs.select(F.col("j").alias("i"), F.col("i").alias("j"), "c"))
    scored = (
        sym.join(f.select(F.col("p").alias("i"), F.col("f").alias("f_i")),
                 "i")
        .join(f.select(F.col("p").alias("j"), F.col("f").alias("f_j")),
              "j")
        .select(
            "i", "j", "c", "f_i", "f_j",
            (
                F.col("c").cast("double")
                / (F.sqrt(F.col("f_i").cast("double"))
                   * F.sqrt(F.col("f_j").cast("double")))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("i").orderBy(
        F.col("cosine").desc(), F.col("j").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _K)
        .select(
            F.col("i").alias("partkey"), "rank",
            F.col("j").alias("neighbor"),
            F.col("c").alias("n_cobaskets"), "f_i", "f_j", "cosine",
        )
        .orderBy("partkey", "rank")
    )


STAGED = {
    "q138_item_cooccur_topk": (q138, _Q138_ORACLE, _Q138_DESCRIPTION,
                               ("basket", "similarity")),
}


__all__ = ["q138", "STAGED"]
