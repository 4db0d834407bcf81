"""q55: incremental corpus dedup against a prebuilt
index.

The operation is the shape production dedup actually runs at 100 TB: a
NEW batch arrives and must be deduped against the EXISTING corpus without
re-mining the historical pair graph. The historical shingle inverted
index (+ per-doc set sizes + the hot-shingle list) is built ONCE per
corpus snapshot and scratch-materialized — the per-batch cost is then
``O(batch)``: row-local shingling of the new docs, one broadcast
anti-join against the hot list, one equi-join probe into the index, and
integer Jaccard arithmetic. The DuckDB oracle computes the same result
from first principles (it may re-derive the historical side — the
asymmetry is a Spark-plan property, not a semantics change), so the
entry carries a FULL value oracle.

Semantics match the q47 family exactly: word-3-gram shingles as 60-bit
md5 hashes, document-frequency cap >100 excluding hot/boilerplate
shingles from BOTH intersection and sizes, Jaccard >= 0.6 over the
capped universe. A new doc is a duplicate iff it matches ANY historical
doc at that gate.

Planted structure (both engines literally): exact copies (+500000,
jaccard 1.0 vs the source), near copies with a 3-token tail (+600000,
jaccard ≈ 0.9), and genuinely-fresh docs (+700000, text rebuilt from md5
hex windows — guaranteed shingle-disjoint from any natural-language
historical doc), so the expected verdicts are knowable per id band.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import shingle_hash, shingles, tokens
from ..scratch import materialize_once, scratch_path
from .llm_queries import _NEAR_TAIL, _SHINGLE_HASH_SQL, _TOKS_SQL
from .registry import query, tables

_MAX_SHINGLE_DF = 100
_JACCARD = 0.6
_N = 3


# ---------------------------------------------------------------------------
# Inputs (both engines literally)
# ---------------------------------------------------------------------------


def _historical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables(spark, sf_dir)["documents"].select("doc_id", "text")


def _fresh_text(text) -> Column:
    m = F.md5(text)
    return F.concat_ws(
        " ",
        F.substring(m, 1, 8), F.substring(m, 9, 8),
        F.substring(m, 17, 8), F.substring(m, 25, 8),
    )


def _new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _historical(spark, sf_dir)
    exact = d.where(F.col("doc_id") % 10 == 4).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    near = d.where(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 600000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_NEAR_TAIL)).alias("text"),
    )
    fresh = d.where(F.col("doc_id") % 10 == 6).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        _fresh_text(F.col("text")).alias("text"),
    )
    return exact.unionAll(near).unionAll(fresh)


# ---------------------------------------------------------------------------
# The prebuilt historical index (one-time per corpus snapshot)
# ---------------------------------------------------------------------------


def _doc_shingles(df: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct 60-bit hashed word-3-gram shingles,
    hashed INSIDE the array before the explode (8-byte longs in every
    downstream exchange — the dedup-operator discipline)."""
    return df.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(shingles(tokens("text"), _N), shingle_hash)
            )
        ).alias("shingle"),
    )


def _hist_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The scratch-materialized historical artifacts: ``(idx, sizes, hot)``.

    Built once per corpus snapshot (content-fingerprinted scratch key) and
    reused by every incoming batch — re-shingling the historical corpus
    per batch is exactly the cost incremental dedup exists to avoid. At
    warehouse scale the index parquet would additionally be bucketed by
    ``shingle`` so batch probes co-locate without a shuffle; the plan
    shape (probe-sized work, index never rebuilt) is already the 100 TB
    one. Read-back uses explicit schemas: the hot list is legitimately
    EMPTY when no shingle exceeds the DF cap, and schema inference cannot
    read an empty parquet directory."""
    base = scratch_path("q55_hist_index", sf_dir)

    def _build(p: str) -> None:
        sh = _doc_shingles(_historical(spark, sf_dir)).repartition(
            spark.sparkContext.defaultParallelism, "shingle"
        )
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .where(F.col("df_count") > _MAX_SHINGLE_DF)
            .select("shingle")
        )
        idx = sh.join(F.broadcast(hot), "shingle", "left_anti")
        idx.write.parquet(f"{p}/idx")
        idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns")).write.parquet(
            f"{p}/sizes"
        )
        hot.write.parquet(f"{p}/hot")

    materialize_once(base, _build)
    idx = spark.read.schema("shingle long, doc_id long").parquet(f"{base}/idx")
    sizes = spark.read.schema("doc_id long, ns long").parquet(f"{base}/sizes")
    hot = spark.read.schema("shingle long").parquet(f"{base}/hot")
    return idx, sizes, hot


# ---------------------------------------------------------------------------
# The per-batch probe
# ---------------------------------------------------------------------------


def _matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(new_id, hist_id, jaccard) for every new-doc × historical-doc pair
    at jaccard >= 0.6 over the DF-capped universe. Cost is probe-shaped:
    the historical side is only ever READ (index scan + equi-join); no
    historical pair is re-mined."""
    idx, sizes, hot = _hist_index(spark, sf_dir)
    nsh = (
        _doc_shingles(_new_batch(spark, sf_dir))
        # hot shingles leave the new doc's universe exactly as they left
        # the historical one — sizes and intersections stay consistent
        .join(F.broadcast(hot), "shingle", "left_anti")
        # one explicit shuffle feeds both consumers (per-doc sizes and the
        # index probe) as ReusedExchange reads — the dedup-family pattern
        .repartition(spark.sparkContext.defaultParallelism, "shingle")
    )
    n_new = nsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    common = (
        nsh.join(idx.withColumnRenamed("doc_id", "hist_id"), "shingle")
        .groupBy(F.col("doc_id").alias("new_id"), "hist_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(n_new.withColumnRenamed("doc_id", "new_id"), "new_id")
        .join(sizes.withColumnRenamed("doc_id", "hist_id"), "hist_id")
        .select(
            "new_id",
            "hist_id",
            (
                F.col("n_common").cast("double")
                / (F.col("n_new") + F.col("ns") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= _JACCARD)
    )


# ---------------------------------------------------------------------------
# Oracles (DuckDB recomputes both sides from first principles)
# ---------------------------------------------------------------------------

_FRESH_SQL = (
    "substr(md5(text), 1, 8) || ' ' || substr(md5(text), 9, 8) || ' ' || "
    "substr(md5(text), 17, 8) || ' ' || substr(md5(text), 25, 8)"
)


def _shingle_cte(rel: str, out: str) -> str:
    return (
        f"{out}_tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM {rel}), "
        f"{out} AS (SELECT DISTINCT doc_id, {_SHINGLE_HASH_SQL} AS shingle "
        f"FROM {out}_tok, LATERAL unnest(range(1, len(t) - 1)) AS u(i) "
        "WHERE len(t) >= 3)"
    )


_Q55_BASE_CTES = (
    "hist AS (SELECT doc_id, text FROM documents), "
    "newb AS ("
    "SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 10 = 4 "
    "UNION ALL SELECT doc_id + 600000 AS doc_id, text || '" + _NEAR_TAIL + "' AS text "
    "FROM documents WHERE doc_id % 10 = 5 "
    f"UNION ALL SELECT doc_id + 700000 AS doc_id, {_FRESH_SQL} AS text "
    "FROM documents WHERE doc_id % 10 = 6), "
    + _shingle_cte("hist", "hsh") + ", "
    + _shingle_cte("newb", "nsh") + ", "
    "hot AS (SELECT shingle FROM hsh GROUP BY shingle "
    f"HAVING COUNT(*) > {_MAX_SHINGLE_DF}), "
    "hidx AS (SELECT * FROM hsh WHERE shingle NOT IN (SELECT shingle FROM hot)), "
    "hsizes AS (SELECT doc_id, COUNT(*) AS ns FROM hidx GROUP BY doc_id), "
    "nidx AS (SELECT * FROM nsh WHERE shingle NOT IN (SELECT shingle FROM hot)), "
    "nsizes AS (SELECT doc_id, COUNT(*) AS ns FROM nidx GROUP BY doc_id), "
    "common AS (SELECT n.doc_id AS new_id, h.doc_id AS hist_id, COUNT(*) AS n_common "
    "FROM nidx n JOIN hidx h USING (shingle) GROUP BY 1, 2), "
    "matches AS (SELECT new_id, hist_id, "
    "CAST(n_common AS DOUBLE) / (sn.ns + sh2.ns - n_common) AS jaccard "
    "FROM common JOIN nsizes sn ON sn.doc_id = new_id "
    "JOIN hsizes sh2 ON sh2.doc_id = hist_id "
    f"WHERE CAST(n_common AS DOUBLE) / (sn.ns + sh2.ns - n_common) >= {_JACCARD})"
)

_Q55_ORACLE = (
    f"WITH {_Q55_BASE_CTES} "
    "SELECT nb.doc_id, CAST(COUNT(m.hist_id) AS BIGINT) AS n_matches, "
    "MAX(m.jaccard) AS max_jaccard "
    "FROM newb nb LEFT JOIN matches m ON m.new_id = nb.doc_id "
    "GROUP BY nb.doc_id ORDER BY nb.doc_id"
)

_Q55_DESCRIPTION = (
    "Q55: incremental corpus dedup — a new batch (planted exact/near/fresh "
    "docs) deduped against the historical corpus by probing a prebuilt, "
    "scratch-materialized shingle inverted index: per new doc, the count "
    "of historical near-dup matches (3-gram Jaccard >= 0.6 over the "
    "DF-capped universe, q47 semantics) and the best score. The historical "
    "pair graph is never re-mined; per-batch cost is O(batch)."
)

_Q55B_ORACLE = (
    f"WITH {_Q55_BASE_CTES} "
    "SELECT doc_id, 'historical' AS origin FROM hist "
    "UNION ALL SELECT doc_id, 'new' AS origin FROM newb "
    "WHERE doc_id NOT IN (SELECT new_id FROM matches) "
    "ORDER BY doc_id"
)

_Q55B_DESCRIPTION = (
    "Q55b: incremental dedup APPLY — the merged corpus after the batch: "
    "every historical doc plus the new docs with no historical near-dup "
    "(anti-join against q55's match set), tagged by origin. The updated "
    "corpus a production pipeline would publish after each batch."
)


@query("q55_incremental_dedup", oracle=_Q55_ORACLE,
       description=_Q55_DESCRIPTION, tags=("llm",))
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _matches(spark, sf_dir)
    return (
        _new_batch(spark, sf_dir)
        .select("doc_id")
        .join(m, F.col("doc_id") == m["new_id"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("hist_id").alias("n_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("doc_id")
    )


@query("q55b_incremental_dedup_apply", oracle=_Q55B_ORACLE,
       description=_Q55B_DESCRIPTION, tags=("llm",))
def q55b(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _matches(spark, sf_dir).select("new_id")
    survivors = (
        _new_batch(spark, sf_dir)
        .select("doc_id")
        .join(m, F.col("doc_id") == m["new_id"], "left_anti")
        .select("doc_id", F.lit("new").alias("origin"))
    )
    hist = _historical(spark, sf_dir).select(
        "doc_id", F.lit("historical").alias("origin")
    )
    return hist.unionAll(survivors).orderBy("doc_id")


__all__ = ["q55", "q55b"]
