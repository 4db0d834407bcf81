"""q90: point-in-time dimension
enrichment — join each fact row to the dimension VERSION in effect at
the fact's timestamp (the feature-store "PIT join": label events must
see the feature value as of event time, never a later one — the
temporal-correctness primitive of every training-data join).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

Shape: facts = ``purchase`` events; the versioned dimension = each
user's ``signup`` events (version k = the k-th signup, carrying its
``value`` as the feature payload — a stand-in for any SCD-2 source).
Each purchase is enriched with the version index, version key, and
payload effective AT its timestamp (a version starting exactly at the
fact's ts applies — inclusive), NULLs when no version precedes (left
semantics).

The MERGE-UNION formulation (why this exists): the naive plan is a
range join fact ⋈ dimension ON user AND valid_from <= ts < valid_to —
quadratic blowup per user without interval bucketing. Instead, union
dimension rows (is_dim = 1) and fact rows (is_dim = 0), sort per user
by (ts, is_dim DESC, event_id) — the DESC puts a version starting at
ts BEFORE a fact at ts, implementing the inclusive boundary — and
carry ``last(version payload IGNORE NULLS)`` forward: one hash
exchange, one sort, O(1) running state, NO range join, NO interval
materialization. event_id is unique across both branches (same
underlying table), so the order is total and both engines see
identical frames.

Scale design (100 TB): ONE user_id hash exchange over facts+dimension
together; the window is a running last (O(1) state, not a buffered
frame). At warehouse scale this is the standard "merge the dimension
changelog into the fact stream" trick — it beats the range join
whenever versions-per-key is unbounded, and it never builds validity
intervals at all (q70 builds them when the INTERVALS are the product;
here the enriched facts are).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, tables

_FACT = "purchase"
_DIM = "signup"

_Q90_ORACLE = (
    "WITH tagged AS ("
    f"SELECT user_id, event_id, ts, CAST(1 AS INTEGER) AS is_dim, "
    f"value AS dim_value FROM events WHERE event_type = '{_DIM}' "
    "UNION ALL "
    f"SELECT user_id, event_id, ts, CAST(0 AS INTEGER) AS is_dim, "
    f"NULL AS dim_value FROM events WHERE event_type = '{_FACT}'), "
    # key and payload carry as ONE struct: independent IGNORE NULLS
    # carries would pair a new version's key with the PRIOR version's
    # payload whenever a version row holds a NULL payload (the struct
    # is non-null for every dimension row, so the pair stays intact)
    "carried AS (SELECT user_id, event_id, ts, is_dim, "
    "last_value(CASE WHEN is_dim = 1 THEN "
    "{'eid': event_id, 'val': dim_value} END IGNORE NULLS) "
    "OVER w AS v, "
    "sum(is_dim) OVER w AS version_idx "
    "FROM tagged WINDOW w AS (PARTITION BY user_id "
    "ORDER BY ts, is_dim DESC, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
    "SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, "
    "CAST(version_idx AS BIGINT) AS version_idx, "
    "(v).eid AS version_event_id, (v).val AS version_value, "
    "v IS NOT NULL AS enriched "
    "FROM carried WHERE is_dim = 0 ORDER BY purchase_id"
)

_Q90_DESCRIPTION = (
    "Q90: point-in-time dimension enrichment — each purchase joined to "
    "the signup VERSION in effect at its timestamp via the merge-union "
    "trick (union dimension changelog into the fact stream, one "
    "user_id exchange, running last IGNORE NULLS with O(1) state) "
    "instead of a per-key range join; inclusive at-boundary semantics "
    "via is_dim DESC in the sort; facts with no prior version keep "
    "NULLs. The feature-store PIT-join primitive."
)


@query("q90_pit_enrichment", oracle=_Q90_ORACLE, description=_Q90_DESCRIPTION,
       tags=("events", "analytics"))
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    dim = ev.where(F.col("event_type") == _DIM).select(
        "user_id", "event_id", "ts",
        F.lit(1).alias("is_dim"), F.col("value").alias("dim_value"),
    )
    fact = ev.where(F.col("event_type") == _FACT).select(
        "user_id", "event_id", "ts",
        F.lit(0).alias("is_dim"),
        F.lit(None).cast("double").alias("dim_value"),
    )
    tagged = dim.unionAll(fact)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_dim").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_dim = F.col("is_dim") == 1
    # key + payload as ONE struct (see the oracle comment: independent
    # IGNORE NULLS carries desynchronize on NULL payloads)
    carried = tagged.select(
        "user_id", "event_id", "ts", "is_dim",
        F.last(
            F.when(is_dim, F.struct(F.col("event_id").alias("eid"),
                                    F.col("dim_value").alias("val"))),
            ignorenulls=True,
        ).over(w).alias("v"),
        F.sum("is_dim").over(w).cast("long").alias("version_idx"),
    )
    return (
        carried.where(F.col("is_dim") == 0)
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "version_idx",
            F.col("v.eid").alias("version_event_id"),
            F.col("v.val").alias("version_value"),
            F.col("v").isNotNull().alias("enriched"),
        )
        .orderBy("purchase_id")
    )


__all__ = ["q90"]
