"""STAGED r19 surface (built in r14, NOT registered — GATE_r14.md's
round-19 note budgets the slot) — q156: next-event prediction
evaluation of the q85 Markov transition model — the q149
(leave-one-out recommender hit-rate) evaluation discipline applied to
the OTHER fitted structure the registry exposes: fit per-state argmax
next-event predictions on the transitions of an EARLY period, score
exact hit counts on the LATE period's transitions.

Transition contract shared with q85 (markov.py): a transition is a
consecutive event pair per user under the ONE total order
(ts, event_id); the pair belongs to the TRAIN split iff its SECOND
event's ts < pivot, else to TEST — so the fit never sees a
transition that completes after the pivot (straddling pairs are
test). Prediction per state: the train-split argmax next state,
ties -> lexicographically smallest next state (a total order in both
engines). States unseen in train stay uncovered (counted, not
scored) — the generated corpus covers all five, the edge corpus does
not.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: counts and hits are exact integers; hit_rate_e6 is the
truncating integer division (hits * 1e6 div n_test, the shared
division convention). ORDER BY the unique state key.

Scale design (100 TB): one user_id hash exchange feeds the lead
window (O(1) per-row state); both splits count-compress immediately
into (state, next_state) frames bounded by the EVENT-TYPE DOMAIN
squared — corpus-size-independent from there on. The argmax is a
window over that tiny frame; the test join is domain x domain. No
driver collect, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_PIVOT = "2024-01-22"

_Q156_ORACLE = (
    "WITH tr AS (SELECT event_type AS state, "
    "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "AS next_state, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "AS next_ts FROM events), "
    "t2 AS (SELECT state, next_state, "
    f"CASE WHEN next_ts < TIMESTAMP '{_PIVOT}' THEN 1 ELSE 0 END AS is_train "
    "FROM tr WHERE next_state IS NOT NULL), "
    "fit AS (SELECT state, next_state, COUNT(*) AS c FROM t2 "
    "WHERE is_train = 1 GROUP BY state, next_state), "
    "pred AS (SELECT state, next_state AS predicted FROM fit "
    "QUALIFY row_number() OVER (PARTITION BY state "
    "ORDER BY c DESC, next_state ASC) = 1), "
    "test AS (SELECT state, next_state, COUNT(*) AS n FROM t2 "
    "WHERE is_train = 0 GROUP BY state, next_state) "
    "SELECT test.state AS state, "
    "CAST(SUM(n) AS BIGINT) AS n_test, "
    "CAST(max(CASE WHEN predicted IS NULL THEN 0 ELSE 1 END) AS BIGINT) "
    "AS covered, "
    "CAST(COALESCE(SUM(CASE WHEN next_state = predicted THEN n END), 0) "
    "AS BIGINT) AS n_hits, "
    "CAST(COALESCE(SUM(CASE WHEN next_state = predicted THEN n END), 0) "
    "* 1000000 // SUM(n) AS BIGINT) AS hit_rate_e6 "
    "FROM test LEFT JOIN pred ON test.state = pred.state "
    "GROUP BY test.state ORDER BY state"
)

_Q156_DESCRIPTION = (
    "Q156: next-event prediction evaluation of the q85 Markov model — "
    "fit per-state argmax next-event predictions on transitions "
    f"completing before {_PIVOT} (ties -> lexicographically smallest "
    "next state), score exact hit counts per state on the later "
    "transitions; states unseen in train are counted as uncovered. "
    "Integer-exact (truncating-div hit_rate_e6). Scale-correct: one "
    "user_id exchange for the lead window, then everything "
    "count-compresses to event-type-domain frames; the argmax window "
    "and the test join run on domain-bounded inputs."
)


def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("event_type").alias("state"),
        F.lead("event_type").over(w).alias("next_state"),
        F.lead("ts").over(w).alias("next_ts"),
    ).where(F.col("next_state").isNotNull())
    t2 = tr.select(
        "state", "next_state",
        F.when(F.col("next_ts") < F.lit(_PIVOT).cast("timestamp"), 1)
        .otherwise(0).alias("is_train"),
    # two consumers (train fit + test counts) -> cache; uncached, the
    # lead-window exchange over the fact table would run twice
    ).cache()
    fit = (
        t2.where(F.col("is_train") == 1)
        .groupBy("state", "next_state")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("state").orderBy(
        F.col("c").desc(), F.col("next_state").asc())
    pred = (
        fit.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") == 1)
        .select("state", F.col("next_state").alias("predicted"))
    )
    test = (
        t2.where(F.col("is_train") == 0)
        .groupBy("state", "next_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        test.join(F.broadcast(pred), "state", "left")
        .groupBy("state")
        .agg(
            F.sum("n").cast("long").alias("n_test"),
            F.max(
                F.when(F.col("predicted").isNull(), 0).otherwise(1)
            ).cast("long").alias("covered"),
            F.coalesce(
                F.sum(
                    F.when(F.col("next_state") == F.col("predicted"),
                           F.col("n"))
                ),
                F.lit(0),
            ).cast("long").alias("n_hits"),
            F.expr(
                "cast(coalesce(sum(case when next_state = predicted "
                "then n end), 0) * 1000000 div sum(n) as bigint)"
            ).alias("hit_rate_e6"),
        )
        .orderBy("state")
    )


STAGED = {
    "q156_markov_prediction_eval": (q156, _Q156_ORACLE,
                                    _Q156_DESCRIPTION,
                                    ("events", "eval")),
}


__all__ = ["q156", "STAGED"]
