"""q56: deterministic training-mixture sampling.

The operation: compose a training mixture from per-language target rates
by DETERMINISTIC hash sampling — include a document iff
``md5(doc_id) mod 10000 < rate_permyriad(lang)``. Reproducibility is the
whole point (re-running the pipeline on the same corpus snapshot yields
the bit-identical mixture, and the decision is a pure row-local
projection: zero shuffle, zero RNG state, embarrassingly parallel at any
scale). The md5-derived uniform is the same cross-engine trick q49g's
stratified sample established: both engines compute the identical bucket,
so the sample is value-oracle-checkable — unlike anything built on
``rand()``.

Rates are carried as integer PERMYRIAD literals (3500 = 35%), never as
floats, so no float-rounding boundary can disagree between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

# Per-language target sampling rates, permyriad. The shape of a real
# mixture spec: downsample the dominant language, keep the rare ones.
MIXTURE_PERMYRIAD: dict[str, int] = {
    "en": 3500,
    "de": 10000,
    "es": 7500,
    "fr": 5000,
    "zh": 6000,
}

# Unknown languages are excluded (rate 0) — the conservative default for
# a curated mixture.
_DEFAULT_PERMYRIAD = 0


def _bucket(doc_id: Column) -> Column:
    """Deterministic uniform in [0, 10000) from the doc id: first 8 md5 hex
    chars of the DECIMAL id string → int64 → mod. Identical in DuckDB:
    ``CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
    % 10000``."""
    return (
        F.conv(F.substring(F.md5(doc_id.cast("string")), 1, 8), 16, 10)
        .cast("long") % 10000
    )


def _rate(lang: Column) -> Column:
    expr: Column = F.lit(_DEFAULT_PERMYRIAD)
    for code, permyriad in sorted(MIXTURE_PERMYRIAD.items()):
        expr = F.when(lang == code, F.lit(permyriad)).otherwise(expr)
    return expr


_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000"
_RATE_SQL = (
    "CASE lang "
    + " ".join(
        f"WHEN '{code}' THEN {pm}" for code, pm in sorted(MIXTURE_PERMYRIAD.items())
    )
    + f" ELSE {_DEFAULT_PERMYRIAD} END"
)

_Q56_ORACLE = (
    f"SELECT doc_id, lang, {_BUCKET_SQL} AS bucket FROM documents "
    f"WHERE {_BUCKET_SQL} < {_RATE_SQL} ORDER BY doc_id"
)

_Q56_DESCRIPTION = (
    "Q56: deterministic mixture sampling — include a document iff "
    "md5(doc_id) mod 10000 < the language's integer permyriad rate. "
    "Pure row-local projection (no shuffle, no RNG): the mixture is "
    "reproducible bit-for-bit across runs and engines, which is what "
    "makes a training-data sample auditable."
)

_Q56B_ORACLE = (
    "SELECT lang, COUNT(*) AS n_total, "
    # CAST: DuckDB SUM(int) is HUGEINT, which .df() coerces to float64 —
    # the round-2 q33b dtype-mismatch mode. BIGINT keeps both sides i:.
    f"CAST(SUM(CASE WHEN {_BUCKET_SQL} < {_RATE_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled, "
    f"{_RATE_SQL} AS target_permyriad "
    "FROM documents GROUP BY lang ORDER BY lang"
)

_Q56B_DESCRIPTION = (
    "Q56b: mixture composition audit — per language, the corpus total, "
    "the deterministically sampled count, and the integer target rate; "
    "one map-side-combined aggregation over the same row-local sampling "
    "predicate as q56 (the achieved/target comparison every mixture "
    "pipeline reports)."
)


@query("q56_mixture_sampling", oracle=_Q56_ORACLE,
       description=_Q56_DESCRIPTION, tags=("llm",))
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    b = _bucket(F.col("doc_id"))
    return (
        d.select("doc_id", "lang", b.alias("bucket"))
        .where(F.col("bucket") < _rate(F.col("lang")))
        .orderBy("doc_id")
    )


@query("q56b_mixture_composition", oracle=_Q56B_ORACLE,
       description=_Q56B_DESCRIPTION, tags=("llm",))
def q56b(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    sampled = (_bucket(F.col("doc_id")) < _rate(F.col("lang"))).cast("long")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(sampled).alias("n_sampled"),
        )
        .withColumn("target_permyriad", _rate(F.col("lang")).cast("long"))
        .orderBy("lang")
    )


__all__ = ["q56", "q56b", "MIXTURE_PERMYRIAD"]
