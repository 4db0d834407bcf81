"""q100: embedding class-separation audit — per
label: within-class scatter (mean squared distance to the class
centroid), between-class scatter (squared distance from the class
centroid to the global centroid) and their Fisher-style ratio (the
embedding-quality gate: labels whose ratio collapses are inseparable
in this embedding space — read it before training a probe, after every
encoder swap, and on each mixture re-balance).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). Components use
the q69/q62 scaled-int contract (``round(x·1e6)`` BIGINTs).

Exactness: the within-scatter reduces to EXACT integer sums — per-label
per-dim component sums S, per-label squared norms Q = Σ|c|², their
squares in DECIMAL(38,0) (int64 overflows at warehouse row counts) —
with the variance-identity subtraction Q·n − Σ_d S_d² ALSO in exact
decimal (a double-side subtraction cancels catastrophically on
near-constant labels), so within ≥ 0 by construction:

    within  = (Q·n − Σ_d S_d²) / n²            (variance identity)
    between = Σ_d (S_d/n·1e6 − G_d/N·1e6)²      (centroid difference)

The between-scatter uses the q98 per-term contract instead: raw
integer numerators (S·N − G·n)² overflow even DECIMAL(38,0) at
warehouse row counts, so each DIM's centroid-difference square is ONE
identical-operand-order double rounded to an e12 BIGINT and the 64
contributions sum as integers (order-free). The Fisher ratio derives
from the two ROUNDED BIGINTs (integer inputs ⇒ deterministic by
construction), NULL at zero within. No double ever accumulates.

Scale design (100 TB): the q69 shape — vectors NEVER shuffle. One pass
explodes to (label, dim) partials that map-side-combine to |labels|·64
rows; per-row squared norms combine to |labels| rows in the same scan
group; the global centroid derives from the (already tiny) dim frame;
every join after the two linear passes touches ≤ |labels|·64 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_SCALE = 1_000_000
_DIM = 64

# {q}=Σ|c|² (DEC38), {ss}=Σ_d S_d² (DEC38), {n}=label count. The
# subtraction Q·n − SS happens in EXACT decimal (review finding: doing
# it in doubles cancels catastrophically on near-constant labels and
# could go negative); only the final single positive value is a double.
_WITHIN = ("CAST(round(CAST({q} * {n} - {ss} AS DOUBLE) / "
           "(CAST({n} AS DOUBLE) * CAST({n} AS DOUBLE)) / 1e6) AS BIGINT)")
# per-dim between contribution: ONE double d = S/(n·1e6) − G/(N·1e6)
# (centroid difference in ORIGINAL units) squared and e12-rounded —
# the q98 pattern (per-term rounding, integer sum) instead of summing
# raw (S·N − G·n)² integers, whose squares overflow even DECIMAL(38,0)
# at warehouse row counts (review finding). d is written twice so both
# engines evaluate the identical expression text.
_D = ("(CAST({s} AS DOUBLE) / (CAST({n} AS DOUBLE) * 1e6) - "
      "CAST({g} AS DOUBLE) / (CAST({nn} AS DOUBLE) * 1e6))")
_BDIM = ("CAST(round(" + _D + " * " + _D + " * 1e12) AS BIGINT)")
# {bsum}=Σ_d contributions (BIGINT, e12) → e6
_BETWEEN = "CAST(round(CAST({bsum} AS DOUBLE) / 1e6) AS BIGINT)"
_FISHER = ("CASE WHEN {w} = 0 THEN NULL ELSE CAST(round("
           "CAST({b} AS DOUBLE) / CAST({w} AS DOUBLE) * 1e6) AS BIGINT) "
           "END")

_Q100_ORACLE = (
    "WITH scaled AS (SELECT vec_id, label, list_transform(embedding, "
    f"x -> CAST(round(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)) AS c "
    "FROM embeddings), "
    "qn AS (SELECT label, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(CAST(list_sum(list_transform(c, x -> x * x)) "
    "AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q FROM scaled GROUP BY label), "
    f"dims AS (SELECT label, i AS dim, CAST(sum(c[i]) AS BIGINT) AS s "
    f"FROM scaled, range(1, {_DIM} + 1) t(i) GROUP BY label, i), "
    "gdim AS (SELECT dim, CAST(sum(s) AS BIGINT) AS g FROM dims "
    "GROUP BY dim), "
    "nn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM qn), "
    "ss AS (SELECT label, CAST(sum(CAST(s AS DECIMAL(19,0)) * "
    "CAST(s AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ss FROM dims "
    "GROUP BY label), "
    "bss AS (SELECT d.label, CAST(sum("
    + _BDIM.format(s="d.s", n="qn.n", g="gl.g", nn="nn.nn")
    + ") AS BIGINT) AS bsum FROM dims d JOIN gdim gl ON gl.dim = d.dim "
    "JOIN qn ON qn.label = d.label CROSS JOIN nn GROUP BY d.label), "
    "scat AS (SELECT qn.label, qn.n AS n_vecs, "
    + _WITHIN.format(q="qn.q", ss="ss.ss", n="qn.n") + " AS within_e6, "
    + _BETWEEN.format(bsum="bss.bsum")
    + " AS between_e6 FROM qn JOIN ss ON ss.label = qn.label "
    "JOIN bss ON bss.label = qn.label) "
    "SELECT label, n_vecs, within_e6, between_e6, "
    + _FISHER.format(b="between_e6", w="within_e6")
    + " AS fisher_e6 FROM scat ORDER BY label"
)

_Q100_DESCRIPTION = (
    "Q100: embedding class-separation audit — per label, within-class "
    "scatter (variance identity, subtraction in exact DECIMAL(38,0)), "
    "between-class scatter (per-dim centroid-difference squares as "
    "e12-rounded BIGINT contributions, integer-summed — the q98 "
    "per-term contract), Fisher ratio from the two rounded BIGINTs "
    "(NULL at zero within). Vectors never shuffle: one (label,dim) "
    "partial combine + one per-label norm combine; everything "
    "downstream is |labels|*64 rows (q69 shape)."
)


@query("q100_class_separation", oracle=_Q100_ORACLE,
       description=_Q100_DESCRIPTION, tags=("llm",))
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    scaled = emb.select(
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _SCALE).cast("long"),
        ).alias("c"),
    ).cache()  # two linear consumers: norms and dim partials
    qn = scaled.select(
        "label",
        F.aggregate(
            "c", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).cast("decimal(38,0)").alias("qr"),
    ).groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qr").cast("decimal(38,0)").alias("q"),
    )
    dims = (
        scaled.select("label", F.posexplode("c").alias("dim0", "v"))
        .groupBy("label", "dim0")
        .agg(F.sum("v").cast("long").alias("s"))
    )
    glob = dims.groupBy("dim0").agg(F.sum("s").cast("long").alias("g"))
    nn = qn.agg(F.sum("n").cast("long").alias("nn"))
    ss = dims.groupBy("label").agg(
        F.sum(F.col("s").cast("decimal(19,0)")
              * F.col("s").cast("decimal(19,0)"))
        .cast("decimal(38,0)").alias("ss"))
    bterm = (
        dims.join(F.broadcast(glob), "dim0")
        .join(F.broadcast(qn.select("label", "n")), "label")
        .crossJoin(F.broadcast(nn))
        .select(
            "label",
            F.expr(_BDIM.format(s="s", n="n", g="g", nn="nn")).alias("t"),
        )
    )
    bss = bterm.groupBy("label").agg(
        F.sum("t").cast("long").alias("bsum"))
    scat = (
        qn.join(ss, "label")
        .join(bss, "label")
        .select(
            "label",
            F.col("n").alias("n_vecs"),
            F.expr(_WITHIN.format(q="q", ss="ss", n="n"))
            .alias("within_e6"),
            F.expr(_BETWEEN.format(bsum="bsum")).alias("between_e6"),
        )
    )
    return scat.select(
        "label", "n_vecs", "within_e6", "between_e6",
        F.expr(_FISHER.format(b="between_e6", w="within_e6"))
        .alias("fisher_e6"),
    ).orderBy("label")


__all__ = ["q100"]
