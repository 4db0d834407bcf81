"""q118: trailing-7-day active users
per observed day — THE product/engagement rolling-distinct metric,
and the shape every "rolling window distinct" request reduces to.
Distinct-count windows don't compose (you cannot merge per-day
distincts), so the naive plans are a per-day range self-join (BNLJ
blow-up) or a 7× corpus re-scan; the scale-correct plan used here
reduces the corpus ONCE to distinct (user, day) pairs, then EXPLODES
each pair to the ≤7 trailing target days it can serve, and counts
distinct users per target day — one bounded-fan-out map-side explode
+ one aggregation, no range join anywhere.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism: days are exact integer epoch-day indexes
(unix_micros // 86 400 000 000 — the q84 integer-day convention, no
engine date-truncation conventions); counts exact BIGINTs; only
OBSERVED days emit rows (a day with no events has no row — the grid
completion is a reporting concern, q104's broadcast-grid pattern, not
baked in here). Ordered by day.

Scale design (100 TB): corpus → distinct (user, day) is ONE map-side-
combined shuffle bounded by |users|·|days| (not events); the explode
is a fixed ×7 fan-out of that reduced frame; the final
countDistinct(user) per day shuffles the reduced frame once more. At
warehouse scale the same plan runs incrementally: yesterday's pair
frame is an upsert target and only new days explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_WINDOW = 7
_US_PER_DAY = 86_400_000_000

_Q118_ORACLE = (
    "WITH pd AS (SELECT DISTINCT user_id, "
    f"epoch_us(ts) // {_US_PER_DAY} AS d FROM events), "
    "days AS (SELECT DISTINCT d FROM pd), "
    f"srv AS (SELECT p.user_id, p.d + o.o AS td FROM pd p "
    f"CROSS JOIN (SELECT unnest(range(0, {_WINDOW})) AS o) o), "
    "act AS (SELECT td, CAST(count(DISTINCT user_id) AS BIGINT) "
    "AS n_active_7d FROM srv WHERE td IN (SELECT d FROM days) "
    "GROUP BY td) "
    "SELECT CAST(td AS BIGINT) AS day_idx, n_active_7d "
    "FROM act ORDER BY day_idx"
)

_Q118_DESCRIPTION = (
    "Q118: trailing-7-day active users per observed day — rolling "
    "distinct the scale-correct way: ONE distinct (user, day) "
    "reduction (bounded by users x days, not events), a fixed x7 "
    "map-side explode of that frame onto the days each pair serves, "
    "one countDistinct per target day restricted to observed days — "
    "no range self-join, no 7x corpus re-scan. Exact integer epoch-day "
    "indexes (q84 convention), exact BIGINT counts."
)


@query("q118_rolling_active_users", oracle=_Q118_ORACLE,
       description=_Q118_DESCRIPTION, tags=("events", "windows"))
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    # integer `div`, NOT double / + cast: the double quotient of a
    # just-before-midnight microsecond can round up across the day
    # boundary where the oracle's exact integer // cannot (the
    # anomaly.py/rfm.py engine-division convention)
    day = F.expr(f"unix_micros(ts) div {_US_PER_DAY}")
    # two consumers (days + srv): uncached, each replays the corpus
    # distinct (q80 lesson)
    pd_ = ev.select("user_id", day.alias("d")).distinct().cache()
    days = pd_.select("d").distinct()
    srv = pd_.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.col("d") + F.lit(_WINDOW - 1))
        ).alias("td"),
    )
    return (
        srv.join(F.broadcast(days), srv["td"] == days["d"], "left_semi")
        .groupBy("td")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active_7d"))
        .select(F.col("td").cast("long").alias("day_idx"), "n_active_7d")
        .orderBy("day_idx")
    )


__all__ = ["q118"]
