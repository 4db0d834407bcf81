"""STAGED r20 surface (built late r14, NOT registered — GATE_r14.md's
round-20 note budgets the slot) — q171: rendezvous (highest-random-
weight) shard assignment with the minimal-movement audit — the
operationally-correct sharder next to q49h's mod-N assignment: under
mod-N, growing the shard count reshuffles almost EVERY document;
under rendezvous hashing each document goes to the shard whose
per-(doc, shard) hash scores highest, so adding a shard moves ONLY
the documents the new shard wins (≈ 1/(K+1) of the corpus — the
property this query REPORTS, per shard, by computing both the K=8
and K=9 assignments in one pass).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the per-(doc, shard) score is the established 60-bit
md5 fold of ``doc_id || ':' || shard`` (exact in both engines);
argmax ties break to the smallest shard id (a total order; with a
60-bit hash a tie needs a 2⁻⁶⁰ collision, but the rule is defined);
all outputs are exact integer counts. ORDER BY the unique shard key.

Scale design (100 TB): ONE documents scan fans out by the CONSTANT
factor K+1 = 9 (never data-dependent), both argmaxes derive from the
same exploded frame via (doc)-partitioned min-by windows, and the
result combines map-side to a 9-row report. The fan-out constant is
the price of scoring; a 1000-shard deployment would switch the inner
explode to a Pandas-UDF argmax over the shard range — the documented
seam, not needed at any test SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_K = 8  # the q49h shard count; the audit grows it to _K + 1

# the established 60-bit md5 fold, applied to the (doc, shard) pair key
_SCORE_SQL_DUCK = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
    "CAST(s AS VARCHAR)), 1, 15)) AS BIGINT)"
)
_SCORE_SQL_SPARK = (
    "cast(conv(substr(md5(concat(cast(doc_id as string), ':', "
    "cast(s as string))), 1, 15), 16, 10) as bigint)"
)

_Q171_ORACLE = (
    f"WITH ss AS (SELECT unnest(range({_K + 1})) AS s), "
    "scored AS (SELECT doc_id, s, "
    + _SCORE_SQL_DUCK
    + " AS score FROM documents, ss), "
    "a8 AS (SELECT doc_id, s AS shard8 FROM scored "
    f"WHERE s < {_K} "
    "QUALIFY row_number() OVER (PARTITION BY doc_id "
    "ORDER BY score DESC, s ASC) = 1), "
    "a9 AS (SELECT doc_id, s AS shard9 FROM scored "
    "QUALIFY row_number() OVER (PARTITION BY doc_id "
    "ORDER BY score DESC, s ASC) = 1), "
    "j AS (SELECT a8.doc_id, shard8, shard9 FROM a8 "
    "JOIN a9 ON a8.doc_id = a9.doc_id), "
    f"shards AS (SELECT unnest(range({_K + 1})) AS shard) "
    "SELECT CAST(shard AS BIGINT) AS shard, "
    "CAST(COALESCE(SUM(CASE WHEN shard8 = shard THEN 1 END), 0) "
    "AS BIGINT) AS n_k8, "
    "CAST(COALESCE(SUM(CASE WHEN shard9 = shard THEN 1 END), 0) "
    "AS BIGINT) AS n_k9, "
    "CAST(COALESCE(SUM(CASE WHEN shard8 = shard AND shard9 = shard "
    "THEN 1 END), 0) AS BIGINT) AS stayed, "
    "CAST(COALESCE(SUM(CASE WHEN shard9 = shard AND shard8 != shard "
    "THEN 1 END), 0) AS BIGINT) AS moved_in "
    "FROM shards LEFT JOIN j ON TRUE "
    "GROUP BY shard ORDER BY shard"
)

_Q171_DESCRIPTION = (
    "Q171: rendezvous (HRW) shard assignment + minimal-movement audit "
    "— per shard, the K=8 and K=9 populations, how many documents "
    "stayed, and how many moved in: under rendezvous hashing ONLY the "
    "new shard's winners move (the property this report proves; mod-N "
    "resharding moves almost everything). Exact 60-bit md5 fold "
    "scores, argmax ties -> smallest shard. Scale-correct: one scan "
    "with a CONSTANT K+1 fan-out, doc-partitioned argmax windows, "
    "map-side combine to a 9-row report."
)


def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    scored = d.select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, {_K})")).alias("s"),
    ).select(
        "doc_id", "s",
        F.expr(_SCORE_SQL_SPARK).alias("score"),
    )
    w9 = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("s").asc())
    # one exploded frame, two argmaxes: shard9 from the full range,
    # shard8 from the s < K prefix (two consumers -> cache)
    scored = scored.cache()
    a9 = (
        scored.withColumn("rn", F.row_number().over(w9))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("s").alias("shard9"))
    )
    a8 = (
        scored.where(F.col("s") < _K)
        .withColumn("rn", F.row_number().over(w9))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("s").alias("shard8"))
    )
    j = a8.join(a9, "doc_id")
    shards = spark.range(0, _K + 1).select(
        F.col("id").cast("long").alias("shard"))
    return (
        shards.join(
            F.broadcast(
                j.groupBy("shard8", "shard9").agg(
                    F.count(F.lit(1)).alias("c"))
            ),
            F.expr("shard = shard8 or shard = shard9"),
            "left",
        )
        .groupBy("shard")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("shard8") == F.col("shard"),
                             F.col("c"))), F.lit(0)
            ).cast("long").alias("n_k8"),
            F.coalesce(
                F.sum(F.when(F.col("shard9") == F.col("shard"),
                             F.col("c"))), F.lit(0)
            ).cast("long").alias("n_k9"),
            F.coalesce(
                F.sum(F.when((F.col("shard8") == F.col("shard"))
                             & (F.col("shard9") == F.col("shard")),
                             F.col("c"))), F.lit(0)
            ).cast("long").alias("stayed"),
            F.coalesce(
                F.sum(F.when((F.col("shard9") == F.col("shard"))
                             & (F.col("shard8") != F.col("shard")),
                             F.col("c"))), F.lit(0)
            ).cast("long").alias("moved_in"),
        )
        .orderBy("shard")
    )


STAGED = {
    "q171_rendezvous_sharding": (q171, _Q171_ORACLE, _Q171_DESCRIPTION,
                                 ("llm", "engine")),
}


__all__ = ["q171", "STAGED"]
