"""STAGED r19 surface (built in r14, NOT registered — GATE_r14.md's
round-19 note budgets the slot) — q157: packing-efficiency audit of
the q52 sequence packer — per shard, the composition statistics a
pretraining-data owner reads before accepting a packed corpus
(chunk/doc counts, token mass, the largest and smallest chunk, how
many chunks hold a single document, average docs per chunk).

ONE packing definition (the q149/receval discipline): the builder
CALLS q52's pack_chunks, and the oracle embeds q52's oracle text
(_Q52_SQL) verbatim as a subquery — a test pins the embedding, so
the audited packing can never drift from the audited packer.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: every statistic is an exact integer over q52's
integer-exact chunk frame except avg_docs_e6, the truncating integer
division (n_docs * 1e6 div n_chunks, the shared division
convention). ORDER BY the unique shard key.

Scale design (100 TB): inherits q52's sharded running-offset plan
(shard-partitioned windows — no global sort), then ONE map-side-
combined aggregation of the chunk frame (already |chunks| rows, far
smaller than the corpus) to an 8-row shard report. MODULE_DEPS
records the pipeline_queries.py read edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.pipeline_queries import _Q52_SQL, pack_chunks
from ..queries.registry import tables

_Q157_ORACLE = (
    f"WITH packed AS (SELECT * FROM ({_Q52_SQL})) "
    "SELECT shard_id, "
    "CAST(COUNT(*) AS BIGINT) AS n_chunks, "
    "CAST(SUM(n_docs) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, "
    "CAST(MAX(n_docs) AS BIGINT) AS max_docs_chunk, "
    "CAST(MAX(n_tokens) AS BIGINT) AS max_tokens_chunk, "
    "CAST(MIN(n_tokens) AS BIGINT) AS min_tokens_chunk, "
    "CAST(SUM(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS singleton_chunks, "
    "CAST(SUM(n_docs) * 1000000 // COUNT(*) AS BIGINT) AS avg_docs_e6 "
    "FROM packed GROUP BY shard_id ORDER BY shard_id"
)

_Q157_DESCRIPTION = (
    "Q157: packing-efficiency audit of the q52 sequence packer — per "
    "shard: chunk/doc counts, token mass, largest/smallest chunk, "
    "single-document chunks, truncating-div average docs per chunk. "
    "ONE packing definition: the builder calls q52's pack_chunks and "
    "the oracle embeds q52's oracle verbatim (pinned by test). "
    "Scale-correct: inherits q52's shard-partitioned running-offset "
    "plan, then one map-side combine of the chunk frame to 8 rows."
)


def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    packed = pack_chunks(d.select("doc_id", "text"))
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.max("n_docs").cast("long").alias("max_docs_chunk"),
            F.max("n_tokens").cast("long").alias("max_tokens_chunk"),
            F.min("n_tokens").cast("long").alias("min_tokens_chunk"),
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
            .cast("long").alias("singleton_chunks"),
            F.expr("cast(sum(n_docs) * 1000000 div count(*) as bigint)")
            .alias("avg_docs_e6"),
        )
        .orderBy("shard_id")
    )


STAGED = {
    "q157_packing_efficiency": (q157, _Q157_ORACLE, _Q157_DESCRIPTION,
                                ("llm", "audit")),
}


__all__ = ["q157", "STAGED"]
