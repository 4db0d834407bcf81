"""q94: approximate functional-dependency audit —
for each declared candidate FD ``lhs → rhs``, how close the data comes
to satisfying it (the schema-inference / data-contract primitive: "is
this column determined by that one", run before declaring constraints,
after every backfill, and when picking dedup/merge keys).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension).

Per candidate: group rows by (lhs, rhs), then per lhs key take the
count of its MODAL rhs value — the maximum number of rows that can
satisfy the FD after repairing the minority rows. Compliance =
sum(modal counts) / total rows; the FD holds exactly when every key is
single-valued (n_groups == n_keys).

NULL semantics: NULL is a grouping value on both engines (a NULL lhs
is one key; a NULL rhs is one candidate value) — declared, matching
SQL GROUP BY, so no row is dropped from the audit.

Determinism: all counts exact BIGINTs; compliance is round(x·1e6)
BIGINT (the repo's e6 contract); one output row per candidate, ordered
by (table_name, lhs, rhs).

Scale design (100 TB): per candidate, ONE map-side-combined shuffle on
(lhs, rhs) — cardinality bounded by the key-value domain, not the row
count — then a key-grained re-aggregate of that (already small) frame
and a 1-row summary; candidates run as a UNION of independent 1-row
plans, so Spark schedules them concurrently and nothing is ever
collected or recombined at row grain. Adding a candidate adds one
linear scan (the five below share three tables; a multi-FD-per-scan
variant would pivot the agg, at the cost of the modal-count reuse —
documented trade-off, scan-bound either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

# (table, lhs, rhs) candidates: two that HOLD on the synthetic corpus
# (key-determined), three violated at different rates — the audit's
# output is interesting in both directions.
_CANDIDATES = (
    ("customer", "c_name", "c_mktsegment"),
    ("events", "user_id", "event_type"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_tax"),
    ("orders", "o_orderkey", "o_orderstatus"),
)


def _cand_sql(tbl: str, lhs: str, rhs: str) -> str:
    return (
        f"SELECT '{tbl}' AS table_name, '{lhs}' AS lhs, '{rhs}' AS rhs, "
        "CAST(sum(tc) AS BIGINT) AS n_rows, "
        "CAST(count(*) AS BIGINT) AS n_keys, "
        "CAST(sum(mc) AS BIGINT) AS n_compliant, "
        "CAST(sum(tc) AS BIGINT) = CAST(sum(mc) AS BIGINT) AS fd_holds, "
        "CAST(round(CAST(sum(mc) AS DOUBLE) / CAST(sum(tc) AS DOUBLE) "
        "* 1e6) AS BIGINT) AS compliance_e6 "
        "FROM (SELECT k, max(c) AS mc, sum(c) AS tc FROM "
        f"(SELECT {lhs} AS k, {rhs} AS v, count(*) AS c FROM {tbl} "
        "GROUP BY 1, 2) GROUP BY k)"
    )


_Q94_ORACLE = (
    " UNION ALL ".join(_cand_sql(t, l, r) for t, l, r in _CANDIDATES)
    + " ORDER BY table_name, lhs, rhs"
)

_Q94_DESCRIPTION = (
    "Q94: approximate functional-dependency audit — per declared "
    "candidate lhs->rhs, the modal-value compliance (max repairable "
    "fraction): one (lhs,rhs) map-side-combined shuffle per candidate, "
    "key-grained re-aggregate, 1-row summary; candidates UNION into one "
    "plan Spark schedules concurrently. Exact BIGINT counts, e6 "
    "compliance, fd_holds exact. NULL keys/values audit as values "
    "(GROUP BY semantics both engines)."
)


@query("q94_fd_audit", oracle=_Q94_ORACLE, description=_Q94_DESCRIPTION,
       tags=("quality", "profiling"))
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbls = tables(spark, sf_dir)
    outs = []
    for tbl, lhs, rhs in _CANDIDATES:
        g = (
            tbls[tbl]
            .groupBy(F.col(lhs).alias("k"), F.col(rhs).alias("v"))
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("k")
            .agg(F.max("c").alias("mc"), F.sum("c").alias("tc"))
        )
        s = g.agg(
            F.sum("tc").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("mc").cast("long").alias("n_compliant"),
        )
        outs.append(
            s.select(
                F.lit(tbl).alias("table_name"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                "n_rows", "n_keys", "n_compliant",
                (F.col("n_rows") == F.col("n_compliant")).alias("fd_holds"),
                F.round(
                    F.col("n_compliant").cast("double")
                    / F.col("n_rows").cast("double") * F.lit(1e6)
                ).cast("long").alias("compliance_e6"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("table_name", "lhs", "rhs")


__all__ = ["q94"]
