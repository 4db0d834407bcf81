"""STAGED r19 surface (built in r14, NOT registered — GATE_r14.md's
round-19 note budgets the slot) — q158: join-skew advisory report for
the lineitem part-key domain — the PLANNING twin of the q09b salted
executor: q09b fixes a skewed join once the skew is known; q66 flags
heavy keys against a fixed share threshold; this report computes, per
top key, the numbers an engine operator actually feeds back into the
salting decision: exact frequency, corpus share, skew ratio against
the uniform expectation, the recommended salt factor for a target
rows-per-task budget, and whether the key crosses the hot threshold.

Reference parity: n/a — no analytics surface in the reference;
declared engine-operations surface (SURVEY §2.C extension when
registered).

Determinism: everything is integers — share_e6 and skew_e6 are
truncating divisions of exact counts (the shared division
convention), salt_factor is the ceiling division
(cnt + target - 1) div target, and the top-20 selection orders by
(cnt DESC, key ASC), a total order. ORDER BY the unique key.
BIGINT headroom: skew_e6's numerator cnt * n_keys * 1e6 is bounded
by total * n_keys * 1e6 — fine to ~9e18 (e.g. 1e9 rows over 9k keys);
past that the product moves to DECIMAL(38,0) in both engines (the
q136/q150 documented seam, not needed at any test SF).

Scale design (100 TB): ONE map-side-combined count aggregation to the
key-domain frame (|parts|, corpus-size-independent), a 1-row totals
aggregate broadcast over it, and a distributed TakeOrdered top-20 —
never a global sort, never a fact-table rescan. This is exactly the
per-key statistics pass a real salting advisor would run as a
pre-flight next to AQE's runtime skew detection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import tables

_TOP_K = 20
_TARGET_ROWS = 32      # per-task row budget the salt factor is sized for
_HOT_E6 = 2_000_000    # hot = key carries > 2x the uniform share


_Q158_ORACLE = (
    "WITH kc AS (SELECT l_partkey AS key, COUNT(*) AS cnt FROM lineitem "
    "GROUP BY l_partkey), "
    "tot AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS total FROM kc), "
    "scored AS (SELECT key, cnt, n_keys, total, "
    "cnt * 1000000 // total AS share_e6, "
    "cnt * n_keys * 1000000 // total AS skew_e6, "
    f"(cnt + {_TARGET_ROWS - 1}) // {_TARGET_ROWS} AS salt_factor "
    "FROM kc, tot) "
    "SELECT CAST(key AS BIGINT) AS key, CAST(cnt AS BIGINT) AS cnt, "
    "CAST(share_e6 AS BIGINT) AS share_e6, "
    "CAST(skew_e6 AS BIGINT) AS skew_e6, "
    "CAST(salt_factor AS BIGINT) AS salt_factor, "
    f"CAST(skew_e6 > {_HOT_E6} AS BOOLEAN) AS is_hot "
    "FROM scored "
    f"ORDER BY cnt DESC, key ASC LIMIT {_TOP_K}"
)

_Q158_DESCRIPTION = (
    "Q158: join-skew advisory report over the lineitem part-key "
    "domain — per top-20 key (cnt DESC, key ASC): exact count, "
    "truncating-div corpus share and skew ratio vs the uniform "
    "expectation (both e6), ceiling-div recommended salt factor for "
    f"a {_TARGET_ROWS}-rows-per-task budget, and the >2x hot flag — "
    "the planning twin of the q09b salted join. Scale-correct: one "
    "map-side combine to the key domain, a broadcast 1-row totals "
    "frame, distributed TakeOrdered top-20; never a global sort."
)


def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    kc = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt"))
    tot = kc.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("cnt").alias("total"))
    return (
        kc.crossJoin(F.broadcast(tot))
        .select(
            F.col("key").cast("long").alias("key"),
            F.col("cnt").cast("long").alias("cnt"),
            F.expr("cast(cnt * 1000000 div total as bigint)")
            .alias("share_e6"),
            F.expr("cast(cnt * n_keys * 1000000 div total as bigint)")
            .alias("skew_e6"),
            F.expr(
                f"cast((cnt + {_TARGET_ROWS - 1}) div {_TARGET_ROWS} "
                "as bigint)"
            ).alias("salt_factor"),
            F.expr(f"cnt * n_keys * 1000000 div total > {_HOT_E6}")
            .alias("is_hot"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(_TOP_K)
    )


STAGED = {
    "q158_salt_advisor": (q158, _Q158_ORACLE, _Q158_DESCRIPTION,
                          ("engine", "skew")),
}


__all__ = ["q158", "STAGED"]
