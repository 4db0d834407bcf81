"""q116: corpus duplication-inflation
report, the governance readout a dedup pipeline publishes: the
histogram of near-duplicate cluster sizes (size → how many clusters,
how many documents) plus each size's share of the corpus and of the
REMOVABLE mass (docs − clusters), and the corpus-level inflation
factor. The cluster key is the q46b 32-bit SimHash fingerprint
(hamming-0 near-dup clusters — the blocking key q115 bands for its
≤3-hamming pairs); exact-text clustering (q46's sha256 key) is a
strictly finer partition of the same frame and the test corpus has no
exact dups at all, so the simhash key is both the non-trivial and the
governance-relevant choice: it reports the mass a near-dedup pass
would reclaim.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism: the fingerprint is the q46b contract exactly
(operators/dedup.simhash_col over md5 token hashes; the DuckDB twin is
q115's _SIMHASH_SQL restatement over llm_queries' imported token
twins — one definition each). All counts exact BIGINTs; the
share/inflation columns are ONE double each over exact integers,
e6-rounded. The removable-share guard (NULL when docs == clusters)
exists for the degenerate all-unique corpus; at both test SFs the
simhash key has real multiplicity so every output cell is non-NULL
(the driver's pandas hash path needs a non-all-NULL column to agree
on dtype — found while building this entry against the exact-text key, where
500/500 unique docs made the column all-NULL and ∅/NaN-diverged).
Ordered by cluster size.

Scale design (100 TB): the fingerprint is a map-side projection (no
shuffle); then two map-side-combined aggregations — documents →
|clusters| (one 8-byte-key shuffle, cheaper than q46's 32-byte sha256
key) → |distinct sizes| (a handful of rows) — then 1-row broadcast
totals. Nothing after the first combine is corpus-sized; the
histogram frame is O(max cluster size) regardless of corpus volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import simhash_col, tokens
from .hamming import _SIMHASH_SQL
from .llm_queries import _TOKHASH_SQL, _TOKS_SQL
from .registry import query, tables

_Q116_ORACLE = (
    "WITH t AS (SELECT doc_id, "
    f"list_transform(list_distinct({_TOKS_SQL}), t -> "
    + _TOKHASH_SQL.format(t="t")
    + ") AS hs FROM documents), "
    f"f AS (SELECT doc_id, {_SIMHASH_SQL} AS sh FROM t), "
    "cl AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM f GROUP BY sh), "
    "h AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters, "
    "CAST(sz * count(*) AS BIGINT) AS n_docs FROM cl GROUP BY sz), "
    "tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS docs, "
    "CAST(sum(n_clusters) AS BIGINT) AS clusters FROM h) "
    "SELECT sz AS cluster_size, n_clusters, n_docs, "
    "CAST(round(CAST(n_docs AS DOUBLE) / "
    "(SELECT CAST(docs AS DOUBLE) FROM tot) * 1e6) AS BIGINT) "
    "AS corpus_share_e6, "
    "CASE WHEN (SELECT docs - clusters FROM tot) = 0 THEN NULL ELSE "
    "CAST(round(CAST((sz - 1) * n_clusters AS DOUBLE) / "
    "(SELECT CAST(docs - clusters AS DOUBLE) FROM tot) * 1e6) AS BIGINT) "
    "END AS removable_share_e6, "
    "CAST(round((SELECT CAST(docs AS DOUBLE) FROM tot) / "
    "(SELECT CAST(clusters AS DOUBLE) FROM tot) * 1e6) AS BIGINT) "
    "AS inflation_e6 "
    "FROM h ORDER BY cluster_size"
)

_Q116_DESCRIPTION = (
    "Q116: duplication-inflation report — histogram of hamming-0 "
    "near-dup cluster sizes under the q46b SimHash fingerprint "
    "(size -> clusters, docs, corpus share, share of the REMOVABLE "
    "mass) + the corpus inflation factor docs/clusters. Map-side "
    "fingerprint projection, two map-side-combined aggregations "
    "(corpus -> clusters -> sizes) + 1-row broadcast totals; exact "
    "BIGINT counts, e6 ratios; the histogram frame is O(max cluster "
    "size), corpus-size-independent."
)


@query("q116_dup_inflation", oracle=_Q116_ORACLE,
       description=_Q116_DESCRIPTION, tags=("llm", "dedup", "governance"))
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    cl = (
        docs.select(simhash_col(tokens("text")).alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    h = (
        cl.groupBy("sz")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .withColumn("n_docs",
                    (F.col("sz") * F.col("n_clusters")).cast("long"))
        .cache()  # two consumers (tot + the report): uncached, each
        #           replays the corpus fingerprint pass (q80 lesson)
    )
    tot = h.agg(
        F.sum("n_docs").cast("long").alias("docs"),
        F.sum("n_clusters").cast("long").alias("clusters"),
    )
    removable = (F.col("docs") - F.col("clusters")).cast("double")
    return (
        h.crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double")
                / F.col("docs").cast("double") * F.lit(1e6)
            ).cast("long").alias("corpus_share_e6"),
            F.when(
                F.col("docs") - F.col("clusters") == 0, F.lit(None)
            ).otherwise(
                F.round(
                    ((F.col("sz") - 1) * F.col("n_clusters"))
                    .cast("double") / removable * F.lit(1e6)
                ).cast("long")
            ).alias("removable_share_e6"),
            F.round(
                F.col("docs").cast("double")
                / F.col("clusters").cast("double") * F.lit(1e6)
            ).cast("long").alias("inflation_e6"),
        )
        .orderBy("cluster_size")
    )


__all__ = ["q116"]
