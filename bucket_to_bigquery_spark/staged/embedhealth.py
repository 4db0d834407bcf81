"""STAGED r20 surface (built late r14, NOT registered — GATE_r14.md's
round-20 note budgets the slot) — q174: per-dimension embedding
health audit — the "dead dimension" detector an embedding pipeline
runs before spending quantization or index budget (q139/q144/q148)
on coordinates that carry nothing: per dimension, the exact vector
count, exact-zero count and share, e6 component sum / truncating
mean, and e12 energy (Σx²) — a dimension with zero_share 1.0 or
near-zero energy is wasted index width.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: zeros are exact float comparisons on the same parquet
values both engines read; sums follow the q98 contract (per-element
round-half-away to e6/e12 BEFORE the integer sum — order-free);
mean_e6 is the truncate-toward-zero division both engines share on
SIGNED numerators (tests/test_division_convention.py). ORDER BY the
unique dimension key.

Scale design (100 TB): one scan posexplodes vectors into (dim, x)
and map-side-combines straight into the |dims|-row frame — vectors
never shuffle, no window, no join, no driver collect. The explode
fan-out equals the dimensionality (a constant), the same price every
per-dimension pass in the family pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import tables

_Q174_ORACLE = (
    "WITH ex AS (SELECT vec_id, "
    "unnest(range(len(embedding))) AS dim FROM embeddings), "
    "xv AS (SELECT dim, "
    "CAST(embedding[dim + 1] AS DOUBLE) AS x "
    "FROM ex JOIN embeddings USING (vec_id)), "
    "agg AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN x = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_n, "
    "CAST(SUM(CAST(round(x * 1e6) AS BIGINT)) AS BIGINT) AS sum_e6, "
    "CAST(SUM(CAST(round(x * x * 1e12) AS BIGINT)) AS BIGINT) "
    "AS energy_e12 FROM xv GROUP BY dim) "
    "SELECT CAST(dim AS BIGINT) AS dim, n, zero_n, "
    "CAST(zero_n * 1000000 // n AS BIGINT) AS zero_share_e6, "
    "sum_e6, "
    # both engines truncate toward zero on signed BIGINT division
    "CAST(sum_e6 // n AS BIGINT) AS mean_e6, "
    "energy_e12 FROM agg ORDER BY dim"
)

_Q174_DESCRIPTION = (
    "Q174: per-dimension embedding health audit — exact vector/zero "
    "counts, truncating-div zero share, e6 component sum and "
    "truncate-toward-zero mean, e12 energy per dimension: the dead-"
    "dimension detector run before spending PQ/SQ/IVF budget (q139/"
    "q144/q148) on empty coordinates. q98-contract order-free integer "
    "sums. Scale-correct: one posexplode scan map-side-combines into "
    "the |dims|-row frame — vectors never shuffle, no window, no join."
)


def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    xv = emb.select(
        F.posexplode("embedding").alias("dim", "xf")
    ).select("dim", F.col("xf").cast("double").alias("x"))
    return (
        xv.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("x") == 0.0, 1).otherwise(0))
            .cast("long").alias("zero_n"),
            F.sum(F.expr("cast(round(x * 1e6) as bigint)"))
            .cast("long").alias("sum_e6"),
            F.sum(F.expr("cast(round(x * x * 1e12) as bigint)"))
            .cast("long").alias("energy_e12"),
        )
        .select(
            F.col("dim").cast("long").alias("dim"),
            "n", "zero_n",
            F.expr("cast(zero_n * 1000000 div n as bigint)")
            .alias("zero_share_e6"),
            "sum_e6",
            F.expr("cast(sum_e6 div n as bigint)").alias("mean_e6"),
            "energy_e12",
        )
        .orderBy("dim")
    )


STAGED = {
    "q174_embedding_health": (q174, _Q174_ORACLE, _Q174_DESCRIPTION,
                              ("llm", "similarity", "governance")),
}


__all__ = ["q174", "STAGED"]
