"""q113: single-pass column profile of
the ``orders`` table: per column, the null count, exact distinct
count, and canonical min/max renderings. The data-engineering
"describe this table I've never seen" primitive a warehouse engine is
expected to ship; also the input to schema-drift monitoring (A11's
float-suffix expansion decides FROM a profile like this).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism: min/max render through one canonical per-type formatter
replicated in both engines — BIGINTs via plain decimal text, DOUBLEs
via the DECIMAL(30,6) cast's fixed-point text (both engines print
decimals with full scale, no float shortest-round-trip formatting),
timestamps via the explicit 'yyyy-MM-dd HH:mm:ss' pattern, strings
as-is. Counts are exact BIGINTs. One row per column, ordered by the
schema position index.

Scale design (100 TB): ONE pass — all 6 columns' null counts + min +
max fold into a single map-side-combined aggregate row; the exact
per-column distinct counts run as Spark's expand-based multi-distinct
(one shuffle whose width is Σ|distinct values|, the standard exact
plan). At warehouse scale swap exact distinct for approx_count_distinct
and the plan collapses to the single combine pass — the builder keeps
exact because the driver gate hash-checks values (documented seam, the
q19 approx twin shows the swap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

# (name, type) in schema order — position comes from enumerate, the
# canonical min/max renderers from _duck_render/_spark_render below
_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
]


def _duck_render(agg: str, col: str, typ: str) -> str:
    inner = f"{agg}({col})"
    if typ == "bigint":
        return f"CAST({inner} AS VARCHAR)"
    if typ == "double":
        # fixed-point DECIMAL text — bit-stable, no %g formatting
        return f"CAST(CAST({inner} AS DECIMAL(30,6)) AS VARCHAR)"
    if typ == "timestamp":
        return f"strftime({inner}, '%Y-%m-%d %H:%M:%S')"
    return inner  # string


def _q113_oracle() -> str:
    rows = []
    for i, (c, typ) in enumerate(_COLS):
        rows.append(
            f"SELECT CAST({i} AS BIGINT) AS pos, '{c}' AS col_name, "
            f"CAST(count(*) - count({c}) AS BIGINT) AS n_nulls, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            + _duck_render("min", c, typ) + " AS min_value, "
            + _duck_render("max", c, typ) + " AS max_value FROM orders"
        )
    return " UNION ALL ".join(rows) + " ORDER BY pos"


_Q113_DESCRIPTION = (
    "Q113: single-pass column profile of orders — per column: null "
    "count, exact distinct count, canonical min/max text (BIGINT "
    "decimal text, DOUBLE through the DECIMAL(30,6) fixed-point "
    "rendering, timestamps via an explicit pattern — no float "
    "shortest-round-trip formatting anywhere). Null/min/max for all "
    "columns fold into ONE map-side-combined aggregate row; the exact "
    "multi-distinct is the expand plan (at warehouse scale the "
    "documented swap is approx_count_distinct and the whole profile is "
    "one combine pass). One row per column, schema order."
)


def _spark_render(agg, col: str, typ: str):
    c = agg(col)
    if typ == "bigint":
        return c.cast("string")
    if typ == "double":
        return c.cast("decimal(30,6)").cast("string")
    if typ == "timestamp":
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    return c


@query("q113_column_profile", oracle=_q113_oracle(),
       description=_Q113_DESCRIPTION, tags=("profiling",))
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables(spark, sf_dir)["orders"]
    aggs = []
    for c, typ in _COLS:
        aggs.extend([
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("long").alias(f"{c}__distinct"),
            _spark_render(F.min, c, typ).alias(f"{c}__min"),
            _spark_render(F.max, c, typ).alias(f"{c}__max"),
        ])
    one = orders.agg(*aggs)
    # pivot the 1-row wide aggregate into one row per column via a
    # bounded stack (6 rows — driver-free, stays a Project over the
    # single aggregate row)
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), '{c}', `{c}__nulls`, `{c}__distinct`, "
        f"`{c}__min`, `{c}__max`"
        for i, (c, _) in enumerate(_COLS)
    )
    return (
        one.selectExpr(
            f"stack({len(_COLS)}, {stack_args}) AS "
            "(pos, col_name, n_nulls, n_distinct, min_value, max_value)"
        )
        .orderBy("pos")
    )


__all__ = ["q113"]
