"""q91: A/B conversion lift —
assign every user to a deterministic experiment arm, compare ATTRIBUTED
conversion rates (a purchase within 24 h of the user's last click —
the q77 attribution window turned into a per-user binary), and report
absolute/relative lift with the pooled two-proportion z statistic (the
experimentation-readout primitive; the identical shape evaluates a
pipeline change by comparing corpus metrics across two ingest
variants).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

Assignment is the house md5-permyriad uniform (the q56/q72 contract):
``md5('ab:' || user_id)`` first-8-hex as an integer, arm B iff
bucket < 5000 — deterministic, reproducible, salt-decoupled from every
other md5 decision in the repo. Spark spells the same integer with
``conv()`` (a '0x…' string cast parses in DuckDB but is NULL in Spark
— the splits.py precedent). Conversion is DEFINED as "some purchase at
most 24 h after the most recent preceding click" rather than ">= 1
purchase" because the latter is constant-true on this corpus (and on
most transactional corpora) — a degenerate rate makes the z statistic
0/0 and the entry would verify nothing.

All counts exact integers; rates, lifts and

    z = (p_b − p_a) / sqrt(p·(1−p)·(1/n_a + 1/n_b)),   p pooled

are each ONE identical-operand-order double over those integers,
scaled to round(x·1e6) (the q49k contract — sqrt inside the rounding).
Degenerate cases guard by EXACT integer tests, identical on both
engines: an empty arm or an all-0/all-1 pooled rate yields NULL z (and
NULL lifts where their denominators vanish) instead of Spark-ANSI
DIVIDE_BY_ZERO vs DuckDB-NULL divergence (the q80/q84 lesson).

Scale design (100 TB): the attribution flag is the q77 running-last
window (ONE user_id hash exchange, O(1) state); the per-user flag
aggregate reuses that partitioning; the readout is a 2-value aggregate
crossed into one row. Assignment is row-local — no assignment table,
no RNG state (the q56 argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, tables

_SALT = "ab:"  # decouples arm assignment from other md5 decisions
_B_PERMYRIAD = 5000  # 50/50 split
_WINDOW_US = 24 * 3_600_000_000  # attribution window: 24 h

_BUCKET_SQL = (  # DuckDB spelling; Spark uses conv() below
    f"CAST(('0x' || substr(md5('{_SALT}' || CAST(user_id AS VARCHAR)), "
    "1, 8)) AS BIGINT) % 10000"
)

_RATE = "(CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE))"
_POOL = (
    "((CAST({ca} AS DOUBLE) + CAST({cb} AS DOUBLE)) / "
    "(CAST({na} AS DOUBLE) + CAST({nb} AS DOUBLE)))"
)
_LIFT_ABS = (
    "CASE WHEN {na} = 0 OR {nb} = 0 THEN CAST(NULL AS BIGINT) ELSE "
    "CAST(round((" + _RATE.format(c="{cb}", n="{nb}") + " - "
    + _RATE.format(c="{ca}", n="{na}") + ") * 1e6) AS BIGINT) END"
)
_LIFT_REL = (
    "CASE WHEN {na} = 0 OR {nb} = 0 OR {ca} = 0 THEN CAST(NULL AS BIGINT) "
    "ELSE CAST(round(((" + _RATE.format(c="{cb}", n="{nb}") + " - "
    + _RATE.format(c="{ca}", n="{na}") + ") / "
    + _RATE.format(c="{ca}", n="{na}") + ") * 1e6) AS BIGINT) END"
)
_Z = (
    "CASE WHEN {na} = 0 OR {nb} = 0 OR ({ca} + {cb}) = 0 "
    "OR ({ca} + {cb}) = ({na} + {nb}) THEN CAST(NULL AS BIGINT) ELSE "
    "CAST(round(((" + _RATE.format(c="{cb}", n="{nb}") + " - "
    + _RATE.format(c="{ca}", n="{na}") + ") / "
    "sqrt(" + _POOL + " * (1.0 - " + _POOL + ") * "
    "(1.0 / CAST({na} AS DOUBLE) + 1.0 / CAST({nb} AS DOUBLE)))) "
    "* 1e6) AS BIGINT) END"
)

_ARMS = {"ca": "c_a", "na": "n_a", "cb": "c_b", "nb": "n_b"}

_Q91_ORACLE = (
    "WITH carried AS (SELECT user_id, event_type, ts, "
    "last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) "
    "OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click "
    "FROM events), "
    "per_user AS (SELECT user_id, "
    "CAST(max(CASE WHEN event_type = 'purchase' AND last_click IS NOT NULL "
    f"AND epoch_us(ts) - epoch_us(last_click) <= {_WINDOW_US} "
    "THEN 1 ELSE 0 END) AS BIGINT) AS converted FROM carried "
    "GROUP BY user_id), "
    "armed AS (SELECT converted, "
    f"CASE WHEN {_BUCKET_SQL} < {_B_PERMYRIAD} THEN 'B' ELSE 'A' END AS arm "
    "FROM per_user), "
    "arms AS (SELECT "
    "CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a, "
    "CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS c_a, "
    "CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b, "
    "CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS c_b "
    "FROM armed) "
    "SELECT n_a, c_a, n_b, c_b, "
    + _LIFT_ABS.format(**_ARMS) + " AS lift_abs_e6, "
    + _LIFT_REL.format(**_ARMS) + " AS lift_rel_e6, "
    + _Z.format(**_ARMS) + " AS z_e6 FROM arms"
)

_Q91_DESCRIPTION = (
    "Q91: A/B conversion lift — deterministic md5-permyriad arm "
    "assignment (the q56/q72 contract, salted 'ab:'), conversion = a "
    "purchase within 24 h of the last preceding click (the q77 "
    "attribution window as a per-user binary; '>=1 purchase' is "
    "constant-true here and would verify nothing), exact integer arm "
    "counts, absolute/relative lift + pooled two-proportion z each one "
    "identical-operand-order double scaled to e6, with exact-integer "
    "guards returning NULL on empty arms / degenerate pooled rates "
    "(the q80/q84 ANSI-divergence lesson). One user_id exchange "
    "(attribution window + flag aggregate share it); readout is a "
    "1-row cross."
)


@query("q91_ab_lift", oracle=_Q91_ORACLE, description=_Q91_DESCRIPTION,
       tags=("events", "analytics"))
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    converted_row = F.when(
        (F.col("event_type") == "purchase")
        & F.col("last_click").isNotNull()
        & (F.unix_micros("ts") - F.unix_micros("last_click") <= _WINDOW_US),
        1,
    ).otherwise(0)
    per_user = (
        ev.select("user_id", "event_type", "ts", "event_id",
                  last_click.alias("last_click"))
        .groupBy("user_id")
        .agg(F.max(converted_row).cast("long").alias("converted"))
    )
    # Spark spelling of the same md5-permyriad uniform (conv(), the
    # splits.py precedent — '0x…' string casts are NULL in Spark)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SALT),
                               F.col("user_id").cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("long") % 10000
    )
    armed = per_user.select(
        F.when(bucket < _B_PERMYRIAD, F.lit("B"))
        .otherwise(F.lit("A")).alias("arm"),
        "converted",
    )
    arms = armed.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted"))
              .otherwise(0)).cast("long").alias("c_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted"))
              .otherwise(0)).cast("long").alias("c_b"),
    )
    return arms.selectExpr(
        "n_a", "c_a", "n_b", "c_b",
        _LIFT_ABS.format(**_ARMS) + " AS lift_abs_e6",
        _LIFT_REL.format(**_ARMS) + " AS lift_rel_e6",
        _Z.format(**_ARMS) + " AS z_e6",
    )


__all__ = ["q91"]
