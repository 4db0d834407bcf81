"""STAGED r18 surface (built late r13, NOT registered — GATE_r13.md's
round-18 note budgets the slot) — q150: bipartite co-HITS authority
ranking — two exact propagation sweeps over the customer→part
purchase graph (the Kleinberg HITS shape on a bipartite graph):
authority⁰(part) = its distinct-buyer degree, hub¹(customer) = the
summed authority of everything they buy, authority²(part) = the
summed hub score of everyone who buys it. "Popular among heavy,
well-connected buyers" — the graph-family member q78 (PageRank,
within-one-node-set) and q78b (triangles) don't cover: propagation
ACROSS a bipartite structure.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the edge set is exact (DISTINCT customer–part purchase
incidences through orders⋈lineitem); both sweeps are pure integer
sums — no normalization, no floats anywhere (fixed-iteration
UNNORMALIZED HITS is scale-equivalent to the normalized ranking at
any fixed depth) — accumulated in DECIMAL(38,0) (the q107 contract:
a2 grows like degree³, which wraps int64 around ~2e6-buyer parts);
top-20 ties break on partkey. Ordered (rank).

Scale design (100 TB): each sweep is ONE map-side-combined
aggregation over the edge frame keyed on alternating sides — the
standard distributed bipartite propagation (never materializes a
part×part or customer×customer projection, whose fan-out is
quadratic in degree); the edge frame builds once (orders⋈lineitem⋈
DISTINCT) and is cached for its two sweep consumers; top-20 by
distributed TakeOrdered, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_TOP = 20

_Q150_ORACLE = (
    "WITH edges AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), "
    "a0 AS (SELECT p, CAST(count(*) AS BIGINT) AS a FROM edges "
    "GROUP BY p), "
    "h1 AS (SELECT c, CAST(sum(CAST(a AS DECIMAL(38,0))) "
    "AS DECIMAL(38,0)) AS h FROM edges JOIN a0 USING (p) GROUP BY c), "
    "a2 AS (SELECT p, CAST(sum(h) AS DECIMAL(38,0)) AS a2 "
    "FROM edges JOIN h1 USING (c) GROUP BY p) "
    "SELECT CAST(row_number() OVER (ORDER BY a2.a2 DESC, a2.p ASC) "
    "AS BIGINT) AS rank, a2.p AS p_partkey, "
    "CAST(a0.a AS BIGINT) AS n_buyers, "
    "CAST(a2.a2 AS DECIMAL(38,0)) AS authority2 "
    "FROM a2 JOIN a0 USING (p) "
    f"ORDER BY rank LIMIT {_TOP}"
)

_Q150_DESCRIPTION = (
    "Q150: bipartite co-HITS authority top-20 over the customer-part "
    "purchase graph — authority0 = distinct-buyer degree, hub1 = "
    "summed authority per customer, authority2 = summed hub per part "
    "('popular among heavy, well-connected buyers'); the bipartite "
    "propagation member of the graph family. Pure integer sums in "
    "DECIMAL(38,0) (a2 ~ degree^3 wraps int64 at warehouse degrees), "
    "no normalization/floats at fixed depth, ties -> partkey. Two "
    "map-side-combined sweeps over the cached edge frame keyed on "
    "alternating sides — never a quadratic one-side projection; "
    "TakeOrdered top-20."
)


def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    # edge build: one join pass + DISTINCT; cached for the two sweeps
    edges = (
        t["orders"]
        .join(t["lineitem"],
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"),
                F.col("l_partkey").alias("p"))
        .distinct()
        .cache()
    )
    # two consumers (the h1 sweep + the final ranked join) -> cache;
    # if uncached, the degree aggregation would re-run over the edge
    # frame once per consumer
    a0 = edges.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("a")).cache()
    h1 = (
        edges.join(a0, "p")
        .groupBy("c")
        .agg(F.sum(F.col("a").cast("decimal(38,0)"))
             .cast("decimal(38,0)").alias("h"))
    )
    a2 = (
        edges.join(h1, "c")
        .groupBy("p")
        .agg(F.sum("h").cast("decimal(38,0)").alias("a2"))
    )
    ranked = (
        a2.join(a0, "p")
        .orderBy(F.col("a2").desc(), F.col("p").asc())
        .limit(_TOP)
    )
    w = Window.orderBy(F.col("a2").desc(), F.col("p").asc())
    return ranked.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("p").alias("p_partkey"),
        F.col("a").cast("long").alias("n_buyers"),
        F.col("a2").cast("decimal(38,0)").alias("authority2"),
    ).orderBy("rank")


STAGED = {
    "q150_bipartite_hits": (q150, _Q150_ORACLE, _Q150_DESCRIPTION,
                            ("graphs", "basket")),
}


__all__ = ["q150", "STAGED"]
