"""STAGED r20 surface (built late r14, NOT registered — GATE_r14.md's
round-20 note budgets the slot) — q175: per-actor burst detection —
the bot/spam-filtering primitive a training-data event pipeline runs
before trusting engagement signals: for each (user, event type), the
maximum number of events the actor produced inside any single
10-minute tumbling bucket, reported for the top-20 burstiest cells
with the burst flag (max ≥ 2 in one bucket — calibrated to this
corpus's organic rate of ~4 events per user-type-month). The
ACTOR-level companion to q84's corpus-level daily anomalies and
q99's inter-arrival dispersion: those say "the stream misbehaved",
this says WHO.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: buckets are the truncate-toward-zero division of
unix-microseconds both engines share (the q84/q118 convention).
This does NOT assume non-negative timestamps: DuckDB's ``//`` binds
BIGINT // BIGINT here (``epoch_us`` returns BIGINT — type-pinned)
and integer ``//`` truncates toward zero exactly like Spark's
``div`` on BOTH signs; it is DOUBLE ``//`` (flooring) and Python
``//`` that diverge on negatives, and the cross-engine agreement
incl. pre-1970 timestamps is pinned by
tests/test_division_convention.py. Counts are exact; the top-20
orders by (max_burst DESC, n_events DESC, user_id ASC, event_type
ASC) — a total order. ORDER BY the same order.

Scale design (100 TB): one scan map-side-combines into the
(user, type, bucket) frame (bounded by actors × types × observed
buckets, never a window over raw events), a second combine reduces
it to the (user, type) frame, and the top-20 is a distributed
TakeOrdered. No self-join, no per-event window state — the tumbling
bucket approximates a sliding 10-minute window within 2× (the
documented trade; the exact sliding variant is q37's machinery on
the flagged slice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import tables

_BUCKET_US = 600_000_000  # 10 minutes
_THRESHOLD = 2
_TOP_K = 20

_Q175_ORACLE = (
    "WITH b AS (SELECT user_id, event_type, "
    f"epoch_us(ts) // {_BUCKET_US} AS bucket, "
    "CAST(COUNT(*) AS BIGINT) AS c FROM events "
    "GROUP BY user_id, event_type, bucket), "
    "ut AS (SELECT user_id, event_type, "
    "CAST(MAX(c) AS BIGINT) AS max_burst, "
    "CAST(SUM(c) AS BIGINT) AS n_events, "
    "CAST(COUNT(*) AS BIGINT) AS n_buckets FROM b "
    "GROUP BY user_id, event_type) "
    "SELECT user_id, event_type, max_burst, n_events, n_buckets, "
    f"CAST(max_burst >= {_THRESHOLD} AS BOOLEAN) AS is_burst "
    "FROM ut ORDER BY max_burst DESC, n_events DESC, user_id ASC, "
    f"event_type ASC LIMIT {_TOP_K}"
)

_Q175_DESCRIPTION = (
    "Q175: per-actor burst detection — for each (user, event type) "
    "the maximum event count inside any 10-minute tumbling bucket, "
    "top-20 burstiest cells with the >= 2 burst flag: the bot/spam "
    "triage primitive that names WHO misbehaved where q84/q99 only "
    "say the stream did. Truncate-toward-zero micro-bucketing (the "
    "shared division convention). Scale-correct: two map-side "
    "combines — events -> (user, type, bucket) -> (user, type) — and "
    "a distributed TakeOrdered; no self-join, no per-event window."
)


def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    b = (
        ev.select(
            "user_id", "event_type",
            F.expr(f"unix_micros(ts) div {_BUCKET_US}").alias("bucket"),
        )
        .groupBy("user_id", "event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ut = b.groupBy("user_id", "event_type").agg(
        F.max("c").cast("long").alias("max_burst"),
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    return (
        ut.select(
            "user_id", "event_type", "max_burst", "n_events",
            "n_buckets",
            (F.col("max_burst") >= _THRESHOLD).alias("is_burst"),
        )
        .orderBy(
            F.col("max_burst").desc(), F.col("n_events").desc(),
            F.col("user_id").asc(), F.col("event_type").asc(),
        )
        .limit(_TOP_K)
    )


STAGED = {
    "q175_burst_detection": (q175, _Q175_ORACLE, _Q175_DESCRIPTION,
                             ("events", "governance")),
}


__all__ = ["q175", "STAGED"]
