"""q97: directed association rules over user
behavior — for every ordered pair of event types (a → b), the support,
confidence P(b|a), and lift across user baskets (the recommendation /
behavioral-cohort primitive; q76 mines undirected item pairs on the
order stream — this is the DIRECTED rule readout with per-rule
conditional probability, on the event stream).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

Baskets are users; items the DISTINCT event types a user ever fired.
Rules below an absolute pair-support floor are dropped. NULL-user
events form no basket (the self-join key is an equality — both engines
drop NULL = NULL), declared to match q76's NULL-basket convention.

Determinism: all supports exact BIGINTs; confidence and lift are each
ONE identical-operand-order double scaled to round(x·1e6) BIGINT (the
q49k contract); output ordered by (antecedent, consequent) — unique by
construction.

Scale design (100 TB): the item frame distincts on ONE (user, type)
exchange — cardinality ≤ users·|types|, combiner-friendly; the rule
self-join co-partitions on user_id (both sides the SAME frame: one
shuffle, reused); pair and item supports are map-side-combined counts
over ≤|types|² keys; item supports broadcast into the rule readout.
|types| is bounded (a schema-governed enum), so every post-join frame
is vocabulary-sized, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_MIN_PAIR = 5  # absolute user-count floor for a rule

_CONF = ("CAST(round((CAST({ab} AS DOUBLE) / CAST({a} AS DOUBLE)) * 1e6) "
         "AS BIGINT)")
_LIFT = ("CAST(round(((CAST({ab} AS DOUBLE) * CAST({nu} AS DOUBLE)) / "
         "(CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE))) * 1e6) AS BIGINT)")

_Q97_ORACLE = (
    "WITH items AS (SELECT DISTINCT user_id, event_type FROM events "
    "WHERE user_id IS NOT NULL), "
    "nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM items), "
    "sup AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c "
    "FROM items GROUP BY event_type), "
    "pairs AS (SELECT a.event_type AS antecedent, "
    "b.event_type AS consequent, CAST(count(*) AS BIGINT) AS c_ab "
    "FROM items a JOIN items b ON a.user_id = b.user_id "
    "AND a.event_type <> b.event_type GROUP BY 1, 2) "
    "SELECT p.antecedent, p.consequent, nu.n_users, "
    "sa.c AS sup_a, sb.c AS sup_b, p.c_ab AS sup_ab, "
    + _CONF.format(ab="p.c_ab", a="sa.c") + " AS confidence_e6, "
    + _LIFT.format(ab="p.c_ab", nu="nu.n_users", a="sa.c", b="sb.c")
    + " AS lift_e6 FROM pairs p "
    "JOIN sup sa ON sa.event_type = p.antecedent "
    "JOIN sup sb ON sb.event_type = p.consequent "
    f"CROSS JOIN nu WHERE p.c_ab >= {_MIN_PAIR} "
    "ORDER BY antecedent, consequent"
)

_Q97_DESCRIPTION = (
    "Q97: directed association rules over user event baskets — per "
    "ordered type pair (a->b): user support, confidence P(b|a), lift, "
    "pair-support floor 5, NULL users basketless (join-equality "
    "convention). Exact BIGINT supports; confidence/lift one "
    "identical-operand-order double each, e6-scaled (q49k contract). "
    "One (user,type) distinct exchange; the rule self-join "
    "co-partitions the SAME frame; supports broadcast; every "
    "post-join frame is |types|-squared-bounded."
)


@query("q97_association_rules", oracle=_Q97_ORACLE,
       description=_Q97_DESCRIPTION, tags=("events", "analytics"))
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    items = (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", "event_type")
        .distinct()
        .cache()  # three consumers: n_users, supports, the self-join
    )
    nu = items.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"))
    sup = items.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    a = items.select(F.col("user_id").alias("u"),
                     F.col("event_type").alias("antecedent"))
    b = items.select(F.col("user_id").alias("u"),
                     F.col("event_type").alias("consequent"))
    pairs = (
        a.join(b, "u")
        .where(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("long").alias("sup_ab"))
        .where(F.col("sup_ab") >= _MIN_PAIR)
    )
    sa = sup.select(F.col("event_type").alias("antecedent"),
                    F.col("c").alias("sup_a"))
    sb = sup.select(F.col("event_type").alias("consequent"),
                    F.col("c").alias("sup_b"))
    return (
        pairs.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sb), "consequent")
        .crossJoin(F.broadcast(nu))
        .select(
            "antecedent", "consequent", "n_users",
            "sup_a", "sup_b", "sup_ab",
            F.expr(_CONF.format(ab="sup_ab", a="sup_a"))
            .alias("confidence_e6"),
            F.expr(_LIFT.format(ab="sup_ab", nu="n_users", a="sup_a",
                                b="sup_b")).alias("lift_e6"),
        )
        .orderBy("antecedent", "consequent")
    )


__all__ = ["q97"]
