"""STAGED r20 surface (built late r14, NOT registered — GATE_r14.md's
round-20 note budgets the slot) — q173: language-ID confusion matrix
— the CLASSIFICATION-eval member that completes the evaluation family
(q142 regression fit, q149 retrieval hit-rate, q156 sequence
prediction, q159 ANN recall, q160 ranking lift): the registered q49c
stopword-profile classifier scored against the corpus's ground-truth
``lang`` column, as the full (actual × predicted) confusion grid with
exact counts and per-actual-class recall shares — the view that shows
WHICH languages the classifier confuses, not just how often.

ONE classifier definition (the q149/q157/q159 discipline, taken one
step further): the builder CALLS llm_queries' registered q49c builder,
and the oracle embeds q49c's oracle text pulled straight FROM THE
REGISTRY at import time — zero duplicated text, so the audited
classifier cannot drift from the audited eval even in principle.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: counts are exact; row_share_e6 is the truncating integer
division by the actual-class total (every observed cell's class total
is ≥ its own count > 0). ORDER BY the unique (actual, predicted) key.

Scale design (100 TB): inherits q49c's plan (one projection pass, no
shuffle — the scores are per-row expressions), then ONE map-side-
combined aggregation into the (|langs|+1)²-bounded grid and a
broadcast of the |langs|-row class totals back onto it. No second
fact pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import llm_queries
from ..queries.registry import REGISTRY

# byte-identical reuse: the audited classifier's oracle, from the
# registry itself (llm_queries is imported above, so the entry exists)
_Q49C_ORACLE = REGISTRY["q49c_language_id"].oracle

_Q173_ORACLE = (
    "WITH pred AS (SELECT * FROM (" + _Q49C_ORACLE + ")), "
    "grid AS (SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n "
    "FROM pred GROUP BY actual, predicted), "
    "rt AS (SELECT actual, CAST(SUM(n) AS BIGINT) AS actual_total "
    "FROM grid GROUP BY actual) "
    "SELECT grid.actual AS actual, predicted, n, actual_total, "
    "CAST(n * 1000000 // actual_total AS BIGINT) AS row_share_e6 "
    "FROM grid JOIN rt ON grid.actual = rt.actual "
    "ORDER BY actual, predicted"
)

_Q173_DESCRIPTION = (
    "Q173: language-ID confusion matrix — the registered q49c "
    "classifier scored against the ground-truth lang column as the "
    "full (actual x predicted) grid with exact counts, actual-class "
    "totals and truncating-div row shares (the diagonal share IS the "
    "per-class recall). ONE classifier definition: the builder calls "
    "q49c's builder and the oracle embeds q49c's oracle pulled from "
    "the registry itself. Scale-correct: inherits q49c's no-shuffle "
    "scoring pass, then one combine into the bounded grid + a "
    "broadcast of class totals."
)


def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = llm_queries.q49c(spark, sf_dir).select("actual", "predicted")
    grid = (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # two consumers (class totals + the final share join) -> cache
        # the (|langs|+1)^2-bounded grid
        .cache()
    )
    rt = grid.groupBy("actual").agg(
        F.sum("n").cast("long").alias("actual_total"))
    return (
        grid.join(F.broadcast(rt), "actual")
        .select(
            "actual", "predicted", "n", "actual_total",
            F.expr("cast(n * 1000000 div actual_total as bigint)")
            .alias("row_share_e6"),
        )
        .orderBy("actual", "predicted")
    )


STAGED = {
    "q173_langid_confusion": (q173, _Q173_ORACLE, _Q173_DESCRIPTION,
                              ("llm", "eval")),
}


__all__ = ["q173", "STAGED"]
