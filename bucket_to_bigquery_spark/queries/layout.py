"""q60: Z-order (Morton-curve) layout clustering.

The operation: the data-layout maintenance job behind multi-dimensional
partition pruning. A table sorted on ONE column prunes only predicates
on that column; interleaving the bits of TWO dimensions into a Morton
code and range-bucketing by it keeps BOTH dimensions' min/max ranges
narrow inside every bucket, so parquet row-group stats prune either
predicate. q60 emits the resulting layout map — per z-bucket row counts
and both dims' [min, max] spans — which is simultaneously the write
plan (``repartitionByRange(z).sortWithinPartitions(z)`` at the sink)
and the proof of locality (each bucket's spans cover ~1/√B of each
dimension instead of the full range a single-dim sort leaves).

Everything is exact integer bit arithmetic (shifts, masks, adds) —
identical in Spark and DuckDB — so the layout map is value-oracled.

Scale design (100 TB): the Morton code is a row-local projection;
bucketing is a radix on the top bits (no sort needed for the MAP; the
actual rewrite would use repartitionByRange, one shuffle). The map
itself aggregates to B=64 rows via map-side combine.

Cites: reference parity n/a; Morton, "A computer oriented geodetic data
base" (1966) — the standard Z-order curve used by warehouse OPTIMIZE/
CLUSTER BY implementations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_BITS = 10          # 10 bits per dimension → 20-bit Morton code
_BUCKET_SHIFT = 14  # top 6 bits → 64 z-buckets


def _dims() -> tuple[Column, Column]:
    """The two clustering dimensions over ``events``: a user radix and
    the minute of day — the classic 'entity × time' pruning pair."""
    d1 = (F.col("user_id") % (1 << _BITS)).cast("long")
    d2 = ((F.hour("ts") * 60 + F.minute("ts")) % (1 << _BITS)).cast("long")
    return d1, d2


def _morton(d1: Column, d2: Column) -> Column:
    """Interleave the low _BITS bits: d1 bits land at odd positions, d2
    at even — exact integer arithmetic, no UDF."""
    z: Column = F.lit(0).cast("long")
    for b in range(_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(d1, b).bitwiseAND(F.lit(1)), 2 * b + 1)
            + F.shiftleft(F.shiftright(d2, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return z


_D1_SQL = f"(user_id % {1 << _BITS})"
_D2_SQL = f"((EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) % {1 << _BITS})"
_Z_SQL = " + ".join(
    f"((({_D1_SQL} >> {b}) & 1) << {2 * b + 1}) + "
    f"((({_D2_SQL} >> {b}) & 1) << {2 * b})"
    for b in range(_BITS)
)

_Q60_ORACLE = (
    f"WITH coded AS (SELECT CAST({_D1_SQL} AS BIGINT) AS d1, "
    f"CAST({_D2_SQL} AS BIGINT) AS d2, "
    f"CAST(({_Z_SQL}) AS BIGINT) AS z FROM events) "
    f"SELECT CAST(z >> {_BUCKET_SHIFT} AS BIGINT) AS z_bucket, "
    "COUNT(*) AS n_rows, "
    "MIN(d1) AS d1_min, MAX(d1) AS d1_max, "
    "MIN(d2) AS d2_min, MAX(d2) AS d2_max, "
    "MAX(d1) - MIN(d1) AS d1_span, MAX(d2) - MIN(d2) AS d2_span "
    f"FROM coded GROUP BY z >> {_BUCKET_SHIFT} ORDER BY z_bucket"
)

_Q60_DESCRIPTION = (
    "Q60: Z-order layout map — Morton-interleave (user_id radix × "
    "minute-of-day) into a 20-bit code, bucket by its top 6 bits, and "
    "report per-bucket row counts and both dimensions' min/max spans. "
    "The map IS the clustered-write plan (repartitionByRange(z) + "
    "sortWithinPartitions at the sink) and its narrow per-bucket spans "
    "on BOTH dims are the multi-dimensional pruning proof a single-dim "
    "sort cannot give. Pure integer bit arithmetic — value-oracled; "
    "row-local code + one 64-row map-side-combined aggregate."
)


@query("q60_zorder_layout", oracle=_Q60_ORACLE, description=_Q60_DESCRIPTION,
       tags=("relational",))
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    d1, d2 = _dims()
    coded = ev.select(d1.alias("d1"), d2.alias("d2")).withColumn(
        "z", _morton(F.col("d1"), F.col("d2"))
    )
    return (
        coded.groupBy(
            F.shiftright(F.col("z"), _BUCKET_SHIFT).cast("long").alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("d1").alias("d1_min"),
            F.max("d1").alias("d1_max"),
            F.min("d2").alias("d2_min"),
            F.max("d2").alias("d2_max"),
        )
        .withColumn("d1_span", F.col("d1_max") - F.col("d1_min"))
        .withColumn("d2_span", F.col("d2_max") - F.col("d2_min"))
        .orderBy("z_bucket")
    )


__all__ = ["q60"]
