"""STAGED r19 surface (built late r14, NOT registered — GATE_r14.md's
round-19 note budgets the slot) — q170: LEFT OUTER stream-stream
interval join — the state-EVICTION-emitting capability q41c's inner
join never exercises: clicks match purchases by the same user within
the following hour, and a click that finds NO purchase is emitted
with NULLs only when the join watermark has evicted it (proof the
state store actually bounds itself — the unmatched-row emission IS
the eviction event, which is what makes outer stream joins safe at
100 TB).

Emission rule (pinned EMPIRICALLY with a crafted boundary corpus,
tests/test_staged_r19b.py, the q39 append-rule precedent):

- every MATCHED pair emits (inner results are never withheld);
- an UNMATCHED click emits iff ``click_ts + 1h < wm`` STRICTLY,
  where ``wm = least(max click_ts, max purchase_ts) − 2h`` is the
  final global watermark of the single AvailableNow run (min over
  both watermarked inputs; equality at the boundary is WITHHELD —
  measured, not assumed);
- later-than-that clicks stay in state (they could still match a
  future purchase) and do not appear.

The oracle encodes exactly that rule in batch SQL, so the driver's
hash compare pins the eviction semantics, not just the join.

Reference parity: n/a — the reference has no streaming analytics;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the emitted set is a pure function of the data under
the rule above (single AvailableNow run + the no-data finalization
batch); ORDER BY (click_id, purchase_id NULLS FIRST) — Spark's
ascending default, made explicit in DuckDB, whose default is NULLS
LAST.

Scale design (100 TB): the event-time range condition bounds BOTH
state stores (left rows evict at click_ts + 1h + delay, right rows
at purchase_ts + delay); the join itself is the q41c machinery —
one user_id exchange per side, watermark-driven cleanup. An
UNconstrained outer stream join retains every row forever; this is
the declared-safe shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.streaming_queries import _events_stream
from ..streaming import run_stream_to_memory

_Q170_ORACLE = (
    "WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts "
    "FROM events WHERE event_type = 'click'), "
    "p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts "
    "FROM events WHERE event_type = 'purchase'), "
    "wm AS (SELECT least((SELECT max(click_ts) FROM c), "
    "(SELECT max(purchase_ts) FROM p)) - INTERVAL '2 hours' AS w), "
    "j AS (SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, "
    "p.purchase_ts FROM c LEFT JOIN p ON p.user_id = c.user_id "
    "AND p.purchase_ts >= c.click_ts "
    "AND p.purchase_ts <= c.click_ts + INTERVAL '1 hour') "
    "SELECT user_id, click_id, purchase_id, click_ts, purchase_ts "
    "FROM j, wm "
    # matched pairs always emit; unmatched clicks emit iff the final
    # watermark STRICTLY passed their matchable horizon. The strict `<`
    # (equality withheld) is an EMPIRICALLY MEASURED boundary, not a
    # spec-derived rule — at that boundary this oracle validates the
    # engine's observed eviction behavior, so if Spark's no-data
    # finalization batch or watermark computation semantics change, the
    # inequality must be RE-MEASURED, not assumed. The authoritative pin
    # is the crafted boundary corpus in tests/test_staged_r19b.py
    # (test_q170_boundary_is_strictly_less_than): it fails first and names the
    # boundary if the semantics move, so a mismatch here is attributable
    # to finalization, not to the join.
    "WHERE purchase_id IS NOT NULL "
    "OR click_ts + INTERVAL '1 hour' < w "
    "ORDER BY click_id, purchase_id NULLS FIRST"
)

_Q170_DESCRIPTION = (
    "Q170: LEFT OUTER stream-stream interval join — clicks matched to "
    "same-user purchases within the following hour; a matchless click "
    "emits with NULLs exactly when the watermark evicts it (strict "
    "click_ts + 1h < min-side watermark, the empirically pinned "
    "boundary) — the state-eviction capability q41c's inner join "
    "never exercises, with the eviction rule itself encoded in the "
    "batch oracle. Scale-correct: the interval condition bounds both "
    "state stores; one user_id exchange per side (the q41c plan)."
)


def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _events_stream(spark, sf_dir)
    clicks = (
        s.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        s.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("user_id", "click_id", "purchase_id", "click_ts",
             "purchase_ts")
    return run_stream_to_memory(joined, "append").orderBy(
        "click_id", F.col("purchase_id").asc_nulls_first())


STAGED = {
    "q170_outer_stream_join": (q170, _Q170_ORACLE, _Q170_DESCRIPTION,
                               ("streaming",)),
}


__all__ = ["q170", "STAGED"]
