"""q96: population-stability-index drift between
two snapshots of a numeric column (the standard tabular drift monitor:
PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 investigate — run on
every feature between training snapshot and serving traffic).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). Complements q83
(JSD over text unigrams) and q58 (row-level snapshot diff): PSI is the
per-numeric-column DISTRIBUTION diff.

Shape: reference snapshot = orders with even o_orderkey, current =
odd (deterministic halves of the same table — the stand-in for any
two table versions). Metric column: o_totalprice. Bins: 10 fixed-width
buckets over the REFERENCE min/max (the standard PSI recipe: bins are
frozen from the reference so the monitor is comparable across runs);
out-of-range current values clamp into the edge bins, a zero-width
reference degrades to one bucket (guarded width — Spark ANSI would
throw on /0 where DuckDB NULLs).

    PSI = Σ_bins (p_cur - p_ref) · ln(p_cur / p_ref)

with Laplace-smoothed proportions p = (n + 0.5) / (N + 5.0) so empty
bins stay defined (10 bins ⇒ +5 total). Every per-bin contribution is
≥ 0 ((p_c - p_r) and ln(p_c/p_r) share sign), so the e9-scaled BIGINT
contributions sum without cancellation.

Determinism: bin edges derive from min/max (comparisons, no float
accumulation) through ONE shared SQL template on both engines; counts
exact BIGINTs; each bin's contribution one identical-operand-order
double scaled to round(x·1e9) BIGINT (ln inside the rounding — the
q49k contract). Output: one row per bin, ORDER BY bin.

Scale design (100 TB): two filtered scans of the fact table (or one,
with a pivot on the snapshot tag — kept as two for partition-pruned
snapshot reads), each reduced by a map-side-combined 10-ary bin count;
the stats frame (min/max/width/total) is a 1-row broadcast; the grid
completion joins three ≤10-row frames. Nothing after the scans scales
with row count, and the scans are pure columnar projections of one
column — the minimum possible I/O for the metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_NBINS = 10

# shared templates (identical text on both engines)
_W = ("CASE WHEN max(x) > min(x) THEN "
      "(CAST(max(x) AS DOUBLE) - CAST(min(x) AS DOUBLE)) / 10.0 "
      "ELSE 1.0 END")
_BIN = ("CAST(LEAST(GREATEST(FLOOR((CAST({x} AS DOUBLE) - {mn}) / {w}), "
        "0), 9) AS INTEGER)")
_P = "((CAST({n} AS DOUBLE) + 0.5) / (CAST({tot} AS DOUBLE) + 5.0))"
_CONTRIB = ("CAST(round((({pc}) - ({pr})) * ln(({pc}) / ({pr})) * 1e9) "
            "AS BIGINT)")

_pr = _P.format(n="ref_n", tot="r_tot")
_pc = _P.format(n="cur_n", tot="c_tot")

_Q96_ORACLE = (
    "WITH ref AS (SELECT o_totalprice AS x FROM orders "
    "WHERE o_orderkey % 2 = 0), "
    "cur AS (SELECT o_totalprice AS x FROM orders "
    "WHERE o_orderkey % 2 = 1), "
    "st AS (SELECT CAST(min(x) AS DOUBLE) AS mn, "
    + _W + " AS w, CAST(count(*) AS BIGINT) AS r_tot FROM ref), "
    "ct AS (SELECT CAST(count(*) AS BIGINT) AS c_tot FROM cur), "
    "rb AS (SELECT " + _BIN.format(x="x", mn="mn", w="w")
    + " AS bin, CAST(count(*) AS BIGINT) AS n "
    "FROM ref CROSS JOIN st GROUP BY 1), "
    "cb AS (SELECT " + _BIN.format(x="x", mn="mn", w="w")
    + " AS bin, CAST(count(*) AS BIGINT) AS n "
    "FROM cur CROSS JOIN st GROUP BY 1), "
    "grid AS (SELECT CAST(unnest(generate_series(0, 9)) AS INTEGER) "
    "AS bin), "
    "j AS (SELECT g.bin, COALESCE(rb.n, 0) AS ref_n, "
    "COALESCE(cb.n, 0) AS cur_n FROM grid g "
    "LEFT JOIN rb ON rb.bin = g.bin LEFT JOIN cb ON cb.bin = g.bin) "
    "SELECT bin, CAST(ref_n AS BIGINT) AS ref_n, "
    "CAST(cur_n AS BIGINT) AS cur_n, "
    + _CONTRIB.format(pc=_pc, pr=_pr)
    + " AS psi_contrib_e9 FROM j CROSS JOIN st CROSS JOIN ct ORDER BY bin"
)

_Q96_DESCRIPTION = (
    "Q96: population stability index between two snapshot halves of "
    "orders (even/odd orderkey) on o_totalprice — 10 fixed-width bins "
    "frozen from the REFERENCE min/max (edge-clamped, zero-width "
    "guarded), Laplace-smoothed proportions, per-bin (p_cur-p_ref)*"
    "ln(p_cur/p_ref) as e9 BIGINTs (q49k contract; contributions are "
    "non-negative so the sum never cancels). Two single-column scans + "
    "10-ary map-side bin counts; stats broadcast 1-row; grid joins "
    "bounded at 10 rows."
)


@query("q96_psi_drift", oracle=_Q96_ORACLE, description=_Q96_DESCRIPTION,
       tags=("quality", "profiling"))
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables(spark, sf_dir)["orders"]
    ref = orders.where(F.expr("o_orderkey % 2 = 0")).select(
        F.col("o_totalprice").alias("x"))
    cur = orders.where(F.expr("o_orderkey % 2 = 1")).select(
        F.col("o_totalprice").alias("x"))
    st = ref.agg(
        F.expr("CAST(min(x) AS DOUBLE)").alias("mn"),
        F.expr(_W).alias("w"),
        F.count(F.lit(1)).cast("long").alias("r_tot"),
    ).cache()  # 1 row, three consumers — without it each broadcast
    #            replays the reference scan (review finding)
    ct = cur.agg(F.count(F.lit(1)).cast("long").alias("c_tot"))
    bin_expr = F.expr(_BIN.format(x="x", mn="mn", w="w")).alias("bin")

    def bins(side: DataFrame) -> DataFrame:
        return (
            side.crossJoin(F.broadcast(st.select("mn", "w")))
            .select(bin_expr)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    rb = bins(ref).withColumnRenamed("n", "rn")
    cb = bins(cur).withColumnRenamed("n", "cn")
    grid = spark.range(0, _NBINS).select(F.col("id").cast("int").alias("bin"))
    j = (
        grid.join(F.broadcast(rb), "bin", "left")
        .join(F.broadcast(cb), "bin", "left")
        .select(
            "bin",
            F.coalesce("rn", F.lit(0)).cast("long").alias("ref_n"),
            F.coalesce("cn", F.lit(0)).cast("long").alias("cur_n"),
        )
    )
    return (
        j.crossJoin(F.broadcast(st.select("r_tot")))
        .crossJoin(F.broadcast(ct))
        .select(
            "bin", "ref_n", "cur_n",
            F.expr(_CONTRIB.format(pc=_pc, pr=_pr)).alias("psi_contrib_e9"),
        )
        .orderBy("bin")
    )


__all__ = ["q96"]
