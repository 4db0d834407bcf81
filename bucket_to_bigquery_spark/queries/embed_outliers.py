"""q127: embedding outlier audit — for
each label, the top-5 vectors farthest from their label centroid
(squared distance). THE mislabeled-sample / encoder-glitch detector a
training pipeline runs before fitting a probe: a label whose farthest
members sit orders of magnitude from the centroid is contaminated.
Complements q100 (label-LEVEL separation) with the row-level readout,
and q48f (neighbor-vote label audit) with a neighbor-free, one-pass
variant.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism (the q69/q62 scaled-int contract + the q98/q100 per-term
rounding): components are round(x·1e6) BIGINTs; per-(label, dim)
component sums are exact integer sums; the centroid coordinate is ONE
double S_d/n; each dim's squared deviation (c_d − S_d/n)² is ONE
identical-operand-order double rounded to a BIGINT, and the 64
contributions sum as integers (order-free — no double ever
accumulates across dims). Ranks are row_numbers under the total
(distance DESC, vec_id ASC) order.

Scale design (100 TB): vectors never shuffle — one explode pass
map-side-combines to the |labels|·64 centroid frame (the q69/q100
shape); the centroid rides back as a broadcast array join; the
per-row distance is a linear map over each vector in place; top-5 per
label is a window over... no — the distance frame IS corpus-sized, so
the window would sort it per label. Instead the plan count-bounds it:
row_number runs per label ONLY after a per-partition pre-prune is
unavailable — acceptable here because the frame carries (label,
vec_id, dist) triples (24 bytes), not vectors; at warehouse scale the
documented upgrade is a per-partition top-5 heap (TakeOrdered per
group via aggregate) on the same triple frame. Output 5·|labels| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, tables

_TOP = 5
_DIM = 64

_Q127_ORACLE = (
    # component e6 ints → per-(label,dim) exact sums → centroid double
    "WITH ex AS (SELECT label, vec_id, j, "
    "CAST(round(embedding[j] * 1e6) AS BIGINT) AS c "
    f"FROM embeddings CROSS JOIN range(1, {_DIM + 1}) r(j)), "
    "sd AS (SELECT label, j, CAST(sum(c) AS BIGINT) AS s, "
    "CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY label, j), "
    "cent AS (SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY j) AS cl "
    "FROM sd GROUP BY label), "
    # per-vector distance: per-dim term rounded to BIGINT, integer sum
    "d AS (SELECT e.label, e.vec_id, CAST(list_sum(list_transform("
    f"range(1, {_DIM + 1}), j -> CAST(round("
    "(CAST(round(e.embedding[j] * 1e6) AS BIGINT) - cl[j]) * "
    "(CAST(round(e.embedding[j] * 1e6) AS BIGINT) - cl[j])"
    ") AS BIGINT))) AS BIGINT) AS dist_sq_e12 "
    "FROM embeddings e JOIN cent ON e.label = cent.label), "
    "rk AS (SELECT label, vec_id, dist_sq_e12, CAST(row_number() OVER ("
    "PARTITION BY label ORDER BY dist_sq_e12 DESC, vec_id ASC) AS BIGINT) "
    "AS rank FROM d) "
    "SELECT CAST(label AS BIGINT) AS label, vec_id, rank, dist_sq_e12 "
    f"FROM rk WHERE rank <= {_TOP} ORDER BY label, rank"
)

_Q127_DESCRIPTION = (
    "Q127: embedding outlier audit — per label, the top-5 vectors by "
    "squared distance to the label centroid (mislabel/encoder-glitch "
    "detector; row-level companion to q100). q69/q62 scaled-int "
    "contract: e6 components, exact integer (label,dim) sums, ONE "
    "double per centroid coordinate, per-dim squared deviations "
    "e12-rounded then integer-summed (q98/q100 per-term rule — no "
    "accumulating double). Vectors never shuffle: one explode pass to "
    "the |labels|x64 centroid frame, broadcast back, linear per-row "
    "distance map; the ranked frame carries 24-byte triples, never "
    "vectors. 5*|labels| output rows."
)


@query("q127_embedding_outliers", oracle=_Q127_ORACLE,
       description=_Q127_DESCRIPTION, tags=("embeddings", "quality"))
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    ex = emb.select(
        "label", "vec_id",
        F.posexplode(F.col("embedding")).alias("j0", "x"),
    ).select(
        "label", "vec_id", (F.col("j0") + 1).alias("j"),
        F.round(F.col("x") * F.lit(1e6)).cast("long").alias("c"),
    )
    sd = ex.groupBy("label", "j").agg(
        F.sum("c").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cent = (
        sd.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(
                    F.col("j"), (F.col("s").cast("double") / F.col("n"))
                    .alias("cd")))
            ).alias("cs")
        )
        .select("label", F.col("cs.cd").alias("cl"))
    )
    # per-dim term: ((e6 component) − centroid)² e12-rounded, then an
    # exact integer sum over the 64 dims — identical operand order to
    # the oracle's list_transform
    dist = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("cl"),
            lambda x, c: F.round(
                (F.round(x * F.lit(1e6)).cast("long") - c)
                * (F.round(x * F.lit(1e6)).cast("long") - c)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    d = (
        emb.join(F.broadcast(cent), "label")
        .select("label", "vec_id", dist.alias("dist_sq_e12"))
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist_sq_e12").desc(), F.col("vec_id").asc())
    return (
        d.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOP)
        .select(F.col("label").cast("long").alias("label"),
                "vec_id", "rank", "dist_sq_e12")
        .orderBy("label", "rank")
    )


__all__ = ["q127"]
