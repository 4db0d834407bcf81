"""STAGED r17 surface (built late r13, NOT registered — GATE_r13.md's
round-17 note budgets the slot) — q144: int8 scalar-quantization
calibration audit — the per-dimension companion to q139's product
quantization: for every embedding dimension, the corpus min/max
calibration range, the 0–255 affine code distribution's saturation
count, and the exact aggregate quantization error. This is the audit
a serving stack runs before switching a 100 TB embedding corpus to
int8 storage (4× smaller than float32): a dimension with heavy
saturation or outsized error needs a wider range or per-block
calibration.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C Q48-family extension when
registered).

Determinism: min/max are pure comparisons on the parquet float32
values (no arithmetic — bit-exact in both engines); the code is
round((x−min)/scale) clamped to [0, 255] with scale = (max−min)/255
in ONE shared operand order (constant dimensions code to 0); the
error is the q98 per-term contract — each element's squared
reconstruction error rounds to an e12 BIGINT BEFORE the integer sum,
so no float accumulates. Ordered by dim.

Scale design (100 TB): two linear passes, which is inherent (codes
need the full min/max before any element can quantize): pass 1 is a
posexplode → 64-key map-side-combined min/max (a |dims|-row frame);
pass 2 re-explodes with the 64-row calibration BROADCAST and
map-side-combines the per-dim error/saturation sums. Vectors never
shuffle; no window, no sort beyond the 64-row result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import tables

_MAX_CODE = 255  # top of the uint8 code range 0..255 (256 levels)

# shared operand order for the affine code + reconstruction error
_SCALE = f"((mx - mn) / {_MAX_CODE}.0)"
_CODE = (
    "CASE WHEN mx = mn THEN 0 ELSE "
    f"CAST(LEAST({_MAX_CODE}.0, GREATEST(0.0, "
    f"round((x - mn) / {_SCALE}))) AS BIGINT) END"
)
_RECON = f"(mn + CAST({_CODE} AS DOUBLE) * {_SCALE})"
_ERR_E12 = (
    f"CAST(round((x - {_RECON}) * (x - {_RECON}) * 1e12) AS BIGINT)"
)

_Q144_ORACLE = (
    "WITH p AS (SELECT len(embedding) AS d FROM embeddings LIMIT 1), "
    "dims AS (SELECT unnest(range((SELECT d FROM p))) AS dim), "
    "ex AS (SELECT vec_id, dim, "
    "CAST(embedding[dim + 1] AS DOUBLE) AS x FROM embeddings, dims), "
    "calib AS (SELECT dim, min(x) AS mn, max(x) AS mx, "
    "CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY dim), "
    "coded AS (SELECT ex.dim, x, mn, mx, "
    + _CODE + " AS code, " + _ERR_E12 + " AS err "
    "FROM ex JOIN calib ON ex.dim = calib.dim) "
    "SELECT dim, CAST(any_value(mn) AS DOUBLE) AS mn, "
    "CAST(any_value(mx) AS DOUBLE) AS mx, "
    f"CAST(sum(CASE WHEN code = 0 OR code = {_MAX_CODE} THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_saturated, "
    "CAST(sum(err) AS BIGINT) AS err2_e12, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM coded GROUP BY dim ORDER BY dim"
)

_Q144_DESCRIPTION = (
    "Q144: int8 scalar-quantization calibration audit — per embedding "
    "dimension: corpus min/max range (pure comparisons, bit-exact), "
    "saturation count of the 0-255 affine codes (one shared operand "
    "order, constant dims code to 0), and exact aggregate "
    "reconstruction error (per-element e12 rounding BEFORE the "
    "integer sum — the q98 contract). The 4x-compression serving "
    "audit next to q139's PQ. Two inherent linear passes: 64-key "
    "min/max combine, then re-explode with the 64-row calibration "
    "broadcast; vectors never shuffle, nothing sorts but the 64-row "
    "result."
)


def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    return sq_calibration_audit(emb)


def sq_calibration_audit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension int8 affine-quantization calibration audit."""
    ex = corpus.select(
        id_col,
        F.posexplode(F.col(vec_col)).alias("dim", "_x"),
    ).select(id_col, "dim", F.col("_x").cast("double").alias("x"))
    calib = ex.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx"))
    coded = ex.join(F.broadcast(calib), "dim").select(
        "dim", "mn", "mx",
        F.expr(_CODE).alias("code"),
        F.expr(_ERR_E12).alias("err"),
    )
    return (
        coded.groupBy("dim")
        .agg(
            F.first("mn").cast("double").alias("mn"),
            F.first("mx").cast("double").alias("mx"),
            F.sum(
                F.when((F.col("code") == 0) | (F.col("code") == _MAX_CODE), 1)
                .otherwise(0)
            ).cast("long").alias("n_saturated"),
            F.sum("err").cast("long").alias("err2_e12"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("dim")
    )


STAGED = {
    "q144_sq_calibration": (q144, _Q144_ORACLE, _Q144_DESCRIPTION,
                            ("llm", "similarity")),
}


__all__ = ["q144", "sq_calibration_audit", "STAGED"]
