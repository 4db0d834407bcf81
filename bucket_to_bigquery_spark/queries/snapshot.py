"""q58: snapshot diff / change-data-capture between
two corpus versions.

The operation: given two snapshots of a keyed corpus, emit the change
set — ``added`` / ``removed`` / ``changed`` rows with content
fingerprints (unchanged rows are filtered out BEFORE the result
materializes). This is the standard warehouse-maintenance diff: it
drives incremental reprocessing (only ``added``/``changed`` docs re-enter
the q54 pipeline), audit ("what did this refresh touch"), and replication
checks. The 'new' snapshot here is derived deterministically from
``documents`` (planted deletes / edits / inserts by doc_id residue), so
the diff is value-oracled end-to-end.

Scale design (100 TB): content equality is decided on md5 FINGERPRINTS
computed in a pre-join projection — the full-outer join (shuffled SMJ on
the key; neither side broadcastable by definition, same as q11b) carries
only (key, 32-byte fp), never document text; at warehouse scale both
sides would be bucketed by the key and the join co-located. Unchanged
rows — the overwhelming majority of any real refresh — are filtered
immediately after the join, so the output is proportional to the CHANGE
volume, not the corpus.

Cites: reference parity n/a (the 589-LoC loader has no snapshot
tooling); extends SURVEY §2.C's maintenance family (Q04e).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

# Planted change structure (all residues pairwise disjoint often enough
# to exercise every branch at every sf):
#   doc_id % 13 == 7  → removed in the new snapshot
#   doc_id % 11 == 5  → text revised (suffix marker)
#   doc_id % 17 == 3  → re-keyed copy inserted as doc_id + 900000
_REV_SUFFIX = " [rev2]"

_NEW_SNAPSHOT_SQL = (
    "SELECT doc_id, CASE WHEN doc_id % 11 = 5 THEN text || '{sfx}' "
    "ELSE text END AS text FROM documents WHERE doc_id % 13 <> 7 "
    "UNION ALL SELECT doc_id + 900000 AS doc_id, text FROM documents "
    "WHERE doc_id % 17 = 3"
).format(sfx=_REV_SUFFIX)

_Q58_ORACLE = (
    "WITH old_fp AS (SELECT doc_id, md5(text) AS fp FROM documents), "
    f"new_fp AS (SELECT doc_id, md5(text) AS fp FROM ({_NEW_SNAPSHOT_SQL})), "
    "d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, "
    "o.fp AS old_fp, n.fp AS new_fp, "
    "CASE WHEN o.doc_id IS NULL THEN 'added' "
    "WHEN n.doc_id IS NULL THEN 'removed' "
    "WHEN o.fp <> n.fp THEN 'changed' ELSE 'unchanged' END AS status "
    "FROM old_fp o FULL OUTER JOIN new_fp n ON o.doc_id = n.doc_id) "
    "SELECT doc_id, status, old_fp, new_fp FROM d "
    "WHERE status <> 'unchanged' ORDER BY doc_id"
)

_Q58_DESCRIPTION = (
    "Q58: snapshot diff (CDC) between two corpus versions — full-outer "
    "join of per-key md5 fingerprints computed BEFORE the join (the "
    "shuffle carries (key, fp), never text), emitting added / removed / "
    "changed rows and filtering the unchanged majority immediately, so "
    "output scales with the change volume. Drives incremental "
    "reprocessing and refresh audits; the 'new' snapshot is a "
    "deterministic derivation (planted deletes/edits/inserts), making "
    "the whole diff value-oracled."
)


def _new_snapshot(docs: DataFrame) -> DataFrame:
    revised = F.when(
        F.col("doc_id") % 11 == 5, F.concat(F.col("text"), F.lit(_REV_SUFFIX))
    ).otherwise(F.col("text"))
    kept = docs.where(F.col("doc_id") % 13 != 7).select(
        "doc_id", revised.alias("text")
    )
    inserted = docs.where(F.col("doc_id") % 17 == 3).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    return kept.unionAll(inserted)


@query("q58_snapshot_diff", oracle=_Q58_ORACLE, description=_Q58_DESCRIPTION,
       tags=("ingest",))
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    old_fp = docs.select("doc_id", F.md5("text").alias("fp"))
    new_fp = _new_snapshot(docs).select("doc_id", F.md5("text").alias("fp"))
    joined = old_fp.alias("o").join(
        new_fp.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.fp") != F.col("n.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
            status.alias("status"),
            F.col("o.fp").alias("old_fp"),
            F.col("n.fp").alias("new_fp"),
        )
        .where(F.col("status") != "unchanged")
        .orderBy("doc_id")
    )


__all__ = ["q58"]
