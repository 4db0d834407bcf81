"""q107: numeric
correlation matrix — exact-moment Pearson correlation for every pair
of lineitem's numeric measures (the profiling pass a feature platform
runs before model training: near-±1 pairs are redundant features or
derived-column leaks, near-0 pairs justify independent treatment;
q80's chi-square is the categorical sibling).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

Every measure scales per-row to an e6 BIGINT (ONE double each, the
q99/q106 moment contract), then ONE aggregation pass collects every
sum, square-sum and cross-sum exactly — ALL moments accumulate in
DECIMAL(38,0): the cross products overflow int64 immediately, and the
marginal sums would too around ~sf40 (an e6-scaled extendedprice row
is ~3.6e10; ADVICE r11 #3). Pearson r per
pair is ONE identical-operand-order double over those exact moments,
NULL when either marginal variance is 0:

    r = (n·Σab − Σa·Σb) / (√(n·Σa² − (Σa)²) · √(n·Σb² − (Σb)²))

Scale design (100 TB): one projection scan → one map-side-combined
GLOBAL aggregation (15 algebraic accumulators, the cheapest possible
shape — partials are 1 row per task); the 6 output rows are built from
the single 1-row moment frame, so nothing downstream touches data at
all. Adding a column costs one scan-width unit and (k−1) accumulators.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_COLS = ("l_discount", "l_extendedprice", "l_quantity", "l_tax")

_SCALE = "CAST(round(CAST({x} AS DOUBLE) * 1e6) AS BIGINT)"
_CORR = (
    "CASE WHEN (CAST({n} AS DOUBLE) * CAST({saa} AS DOUBLE) - "
    "CAST({sa} AS DOUBLE) * CAST({sa} AS DOUBLE)) <= 0.0 OR "
    "(CAST({n} AS DOUBLE) * CAST({sbb} AS DOUBLE) - "
    "CAST({sb} AS DOUBLE) * CAST({sb} AS DOUBLE)) <= 0.0 THEN NULL "
    "ELSE CAST(round((CAST({n} AS DOUBLE) * CAST({sab} AS DOUBLE) - "
    "CAST({sa} AS DOUBLE) * CAST({sb} AS DOUBLE)) / "
    "(sqrt(CAST({n} AS DOUBLE) * CAST({saa} AS DOUBLE) - "
    "CAST({sa} AS DOUBLE) * CAST({sa} AS DOUBLE)) * "
    "sqrt(CAST({n} AS DOUBLE) * CAST({sbb} AS DOUBLE) - "
    "CAST({sb} AS DOUBLE) * CAST({sb} AS DOUBLE))) * 1e6) AS BIGINT) END"
)


def _short(c: str) -> str:
    return c.replace("l_", "")


def _moment_sql() -> str:
    parts = ["CAST(count(*) AS BIGINT) AS n"]
    for c in _COLS:
        # DECIMAL(38,0), not BIGINT (ADVICE r11 #3): an e6-scaled
        # extendedprice row is ~3.6e10, so a BIGINT marginal sum wraps
        # around a few hundred million rows (~sf40) — silently under
        # Spark's non-ANSI sum, loudly in DuckDB. The moments feed the
        # correlation as doubles either way.
        parts.append(
            f"CAST(sum(CAST({_short(c)} AS DECIMAL(38,0))) "
            f"AS DECIMAL(38,0)) AS s_{_short(c)}")
    for a, b in combinations(_COLS, 2):
        sa, sb = _short(a), _short(b)
        parts.append(
            f"CAST(sum(CAST({sa} AS DECIMAL(19,0)) * "
            f"CAST({sb} AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS p_{sa}_{sb}")
    for c in _COLS:
        sc = _short(c)
        parts.append(
            f"CAST(sum(CAST({sc} AS DECIMAL(19,0)) * "
            f"CAST({sc} AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS q_{sc}")
    return ", ".join(parts)


def _pair_select(a: str, b: str) -> str:
    sa, sb = _short(a), _short(b)
    corr = _CORR.format(n="n", sa=f"s_{sa}", sb=f"s_{sb}",
                        saa=f"q_{sa}", sbb=f"q_{sb}", sab=f"p_{sa}_{sb}")
    return (f"SELECT '{a}' AS col_a, '{b}' AS col_b, n AS n_rows, "
            f"{corr} AS corr_e6 FROM m")


_Q107_ORACLE = (
    "WITH scaled AS (SELECT "
    + ", ".join(_SCALE.format(x=c) + f" AS {_short(c)}" for c in _COLS)
    + " FROM lineitem), "
    "m AS (SELECT " + _moment_sql() + " FROM scaled) "
    + " UNION ALL ".join(_pair_select(a, b)
                         for a, b in combinations(_COLS, 2))
    + " ORDER BY col_a, col_b"
)

_Q107_DESCRIPTION = (
    "Q107: Pearson correlation matrix over lineitem's numeric measures "
    "— per-row e6 scaling (one double each), ONE map-side-combined "
    "global aggregation collecting every moment exactly (cross "
    "products in DECIMAL(38,0)), r per pair one identical-operand-"
    "order double over the exact moments (NULL at zero variance). Six "
    "rows built from the 1-row moment frame; nothing downstream "
    "touches data."
)


@query("q107_correlation_matrix", oracle=_Q107_ORACLE,
       description=_Q107_DESCRIPTION, tags=("quality", "profiling"))
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables(spark, sf_dir)["lineitem"]
    scaled = li.select(*[
        F.expr(_SCALE.format(x=c)).alias(_short(c)) for c in _COLS
    ])
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in _COLS:
        sc = _short(c)
        # DECIMAL(38,0) accumulation — see the _moment_sql note
        aggs.append(
            F.sum(F.col(sc).cast("decimal(38,0)"))
            .cast("decimal(38,0)").alias(f"s_{sc}"))
    for a, b in combinations(_COLS, 2):
        sa, sb = _short(a), _short(b)
        aggs.append(
            F.sum(F.col(sa).cast("decimal(19,0)")
                  * F.col(sb).cast("decimal(19,0)"))
            .cast("decimal(38,0)").alias(f"p_{sa}_{sb}"))
    for c in _COLS:
        sc = _short(c)
        aggs.append(
            F.sum(F.col(sc).cast("decimal(19,0)")
                  * F.col(sc).cast("decimal(19,0)"))
            .cast("decimal(38,0)").alias(f"q_{sc}"))
    m = scaled.agg(*aggs)
    outs = []
    for a, b in combinations(_COLS, 2):
        sa, sb = _short(a), _short(b)
        corr = _CORR.format(n="n", sa=f"s_{sa}", sb=f"s_{sb}",
                            saa=f"q_{sa}", sbb=f"q_{sb}",
                            sab=f"p_{sa}_{sb}")
        outs.append(m.select(
            F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
            F.col("n").alias("n_rows"),
            F.expr(corr).alias("corr_e6"),
        ))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("col_a", "col_b")


__all__ = ["q107"]
