"""New r10 surface — q72/q72b: leakage-safe train/heldout split (+ the
audit that proves it), the train/eval hygiene primitive every
training-data pipeline needs before q56's mixture sampling runs.

Reference parity: n/a — declared LLM-pipeline capability (SURVEY §2.C
extension, registered r10).

The problem a naive ``hash(doc_id) % N`` split has: exact duplicates
get independent coin flips, so copies of the same document land on both
sides and the heldout set leaks into training. q72 splits on the
DEDUP-GROUP key instead — ``sha256(normalized text)``, the identical
key q46's exact dedup groups by — so every member of a duplicate group
co-travels BY CONSTRUCTION. The assignment is the q56/q49g
deterministic md5-permyriad uniform over the GROUP key (salted, so the
split is independent of any other hash-derived decision in the
pipeline): bit-reproducible across engines and runs, no RNG.

q72b is the audit: per split, the group count, document count, and the
number of groups observed on BOTH sides — structurally zero here, and
the query MEASURES it rather than assuming it (the column is the
contract a reviewer checks; on a pipeline that split by doc_id it would
be nonzero and visible).

The corpus plants exact copies (``doc_id % 7 == 3`` re-appended at
``doc_id + 100000``, the q46 planting pattern) so the co-travel
guarantee is actually exercised: every planted group has 2 members and
must show n_straddling = 0.

Scale design (100 TB): q72 is ZERO-shuffle — the group key and the
split verdict are row-local expressions (sha256/md5 over the text
column); the only exchange is the presentation sort (plan-pinned). At
warehouse scale this means the split is a free column on the ingest
scan, not a join: no dedup-group table to build or broadcast. q72b
adds the one shuffle its audit genuinely needs (group-by on the
32-byte group key) followed by a 2-row rollup.

A cluster-closed variant (split on q46c's connected-component label so
NEAR-duplicates also co-travel) composes by substituting the CC label
for ``text_hash``; it costs q46c's iterative CC pass, which is why the
exact-group key is the default operating point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import exact_dedup_key
from .registry import _NORM_SQL, query, tables

_TRAIN_PERMYRIAD = 9000  # 90% train / 10% heldout
_SALT = "split:"  # decouples the split uniform from other md5 decisions

# Cross-engine corpus with planted exact copies (q46's pattern, private
# residue 7/3 so the groups differ from q46's own planting).
_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000, text FROM documents "
    "WHERE doc_id % 7 = 3"
)

# _NORM_SQL is imported from registry (one normalizer definition,
# the tokenstats.py discipline): q72's leakage guarantee is that its
# group key IS q46's dedup key, so the two must not be able to drift.
_BUCKET_SQL = (
    f"CAST(('0x' || substr(md5('{_SALT}' || text_hash), 1, 8)) AS BIGINT) "
    "% 10000"
)

_Q72_ORACLE = (
    f"WITH corpus AS ({_CORPUS_SQL}), "
    f"keyed AS (SELECT doc_id, sha256({_NORM_SQL}) AS text_hash "
    "FROM corpus) "
    f"SELECT doc_id, text_hash, {_BUCKET_SQL} AS split_bucket, "
    f"CASE WHEN {_BUCKET_SQL} < {_TRAIN_PERMYRIAD} THEN 'train' "
    "ELSE 'heldout' END AS split FROM keyed ORDER BY doc_id"
)

_Q72B_ORACLE = (
    f"WITH corpus AS ({_CORPUS_SQL}), "
    f"keyed AS (SELECT doc_id, sha256({_NORM_SQL}) AS text_hash "
    "FROM corpus), "
    f"assigned AS (SELECT doc_id, text_hash, "
    f"CASE WHEN {_BUCKET_SQL} < {_TRAIN_PERMYRIAD} THEN 'train' "
    "ELSE 'heldout' END AS split FROM keyed), "
    "grp AS (SELECT text_hash, min(split) AS split, max(split) AS hi, "
    "CAST(count(*) AS BIGINT) AS n_docs FROM assigned "
    "GROUP BY text_hash) "
    "SELECT split, CAST(count(*) AS BIGINT) AS n_groups, "
    "CAST(sum(n_docs) AS BIGINT) AS n_docs, "
    "CAST(sum(CASE WHEN split <> hi THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_straddling FROM grp GROUP BY split ORDER BY split"
)

_Q72_DESCRIPTION = (
    "Q72: leakage-safe train/heldout split — assignment hashes the "
    "DEDUP-GROUP key (sha256 of normalized text, q46's exact-dup key) "
    "through the salted md5-permyriad uniform, so exact duplicates "
    "co-travel by construction and the 90/10 split is bit-reproducible "
    "with no RNG. Zero data shuffles: the verdict is a row-local "
    "expression on the scan (plan-pinned) — at warehouse scale the "
    "split is a free column, not a join."
)

_Q72B_DESCRIPTION = (
    "Q72b: split leakage audit — per split: group count, doc count, and "
    "the number of dedup groups seen on BOTH sides (straddlers). "
    "Structurally zero under q72's group-keyed assignment — planted "
    "duplicate pairs included — and measured, not assumed: one shuffle "
    "on the 32-byte group key, then a 2-row rollup."
)


def _assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"].select("doc_id", "text")
    corpus = docs.unionAll(
        docs.where(F.col("doc_id") % 7 == 3)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    keyed = corpus.select(
        "doc_id", exact_dedup_key("text").alias("text_hash")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SALT), F.col("text_hash"))), 1, 8
            ),
            16, 10,
        ).cast("long") % 10000
    )
    return keyed.select(
        "doc_id", "text_hash", bucket.alias("split_bucket"),
        F.when(bucket < _TRAIN_PERMYRIAD, F.lit("train"))
        .otherwise(F.lit("heldout"))
        .alias("split"),
    )


@query("q72_leakage_safe_split", oracle=_Q72_ORACLE,
       description=_Q72_DESCRIPTION, tags=("llm",))
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assigned(spark, sf_dir).orderBy("doc_id")


@query("q72b_split_leakage_audit", oracle=_Q72B_ORACLE,
       description=_Q72B_DESCRIPTION, tags=("llm",))
def q72b(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min/max instead of countDistinct: a straddling group has
    # min(split) != max(split) (detects >=2 distinct values for any
    # split arity), and simple aggregates keep the plan at the two
    # structural exchanges — text_hash, then split — where a distinct
    # aggregate would plan a third (Expand) exchange.
    grp = (
        _assigned(spark, sf_dir)
        .groupBy("text_hash")
        .agg(
            F.min("split").alias("split"),
            F.max("split").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )
    return (
        grp.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum((F.col("split") != F.col("hi")).cast("long"))
            .cast("long")
            .alias("n_straddling"),
        )
        .orderBy("split")
    )


__all__ = ["q72", "q72b"]
