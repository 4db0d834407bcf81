"""Q42-Q45 — the Python UDF surface (SURVEY §2.C), all Arrow-vectorized.

Everything here is a *pandas* UDF variant (Arrow batch transfer, columnar
compute); there are deliberately ZERO row-at-a-time Python UDFs in this
engine — at 100 TB the 10-100× serialization gap between the two makes
row-UDFs unusable (pyspark_guide: UDFs are the slow path).

Determinism discipline for float outputs: every group statistic is derived
from EXACT integer sums (counts, int columns, price cents), then combined
with a fixed IEEE-op sequence that the DuckDB oracle mirrors literally —
identical inputs + identical op order = bit-identical doubles, no rounding
tolerance needed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .registry import _NORM_SQL, query, tables

# ---------------------------------------------------------------------------
# Q42 — scalar pandas UDF: text normalization
# ---------------------------------------------------------------------------


def _normalize_text_udf():
    # constructed lazily: pandas_udf resolves its return type against the
    # active session, so module import must stay session-free
    @pandas_udf("string")
    def normalize(s: pd.Series) -> pd.Series:
        # collapse whitespace → trim → lower (oracle mirrors this order)
        return s.str.replace(r"\s+", " ", regex=True).str.strip().str.lower()

    return normalize


@query(
    "q42_pandas_udf_normalize",
    oracle=(
        f"SELECT doc_id, {_NORM_SQL} AS norm_text, "
        f"CAST(length({_NORM_SQL}) AS BIGINT) AS norm_len "
        "FROM documents ORDER BY doc_id"
    ),
    description=(
        "Q42: scalar pandas UDF (Arrow-vectorized) — whitespace-collapse + "
        "trim + lowercase over documents.text. The vectorized str kernel "
        "processes whole Arrow batches; no per-row Python."
    ),
    tags=("udf",),
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", _normalize_text_udf()("text").alias("norm_text"))
        .withColumn("norm_len", F.length("norm_text").cast("long"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q43 — grouped-map applyInPandas: per-language z-score of document length
# ---------------------------------------------------------------------------


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # exact integer sums → fixed IEEE sequence (see module docstring)
    x = pdf["n_chars"]
    n = len(pdf)
    s1 = int(x.sum())
    s2 = int((x * x).sum())
    if n < 2:
        z = pd.Series([0.0] * n, index=pdf.index)
    else:
        mean = s1 / n
        var = (s2 - s1 * s1 / n) / (n - 1)
        z = (x - mean) / (var**0.5)
    return pd.DataFrame(
        {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "n_chars": x, "z_chars": z}
    )


@query(
    "q43_apply_in_pandas_zscore",
    oracle=(
        "WITH g AS (SELECT lang, COUNT(*) AS n, SUM(n_chars) AS s1, "
        "SUM(n_chars * n_chars) AS s2 FROM documents GROUP BY lang) "
        "SELECT d.doc_id, d.lang, d.n_chars, "
        "CASE WHEN g.n < 2 THEN 0.0 ELSE "
        "(d.n_chars - CAST(g.s1 AS DOUBLE) / g.n) / "
        "sqrt((g.s2 - CAST(g.s1 AS DOUBLE) * g.s1 / g.n) / (g.n - 1)) END AS z_chars "
        "FROM documents d JOIN g USING (lang) ORDER BY d.doc_id"
    ),
    description=(
        "Q43: grouped-map applyInPandas — z-score of n_chars within each "
        "language. Groups shuffle by lang; each group is one Arrow batch in "
        "pandas. (Skew note: at 100 TB a dominant language makes one group "
        "one task — for heavy-tailed keys pre-aggregate the moments with "
        "built-ins as the oracle SQL does, and broadcast-join them back.)"
    ),
    tags=("udf",),
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    out_schema = "doc_id long, lang string, n_chars long, z_chars double"
    return (
        t["documents"]
        .select("doc_id", "lang", "n_chars")
        .groupBy("lang")
        .applyInPandas(_zscore_group, out_schema)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q44 — grouped-agg pandas UDF: weighted mean price per brand
# ---------------------------------------------------------------------------


def _weighted_cents_udf():
    @pandas_udf("long")
    def weighted_cents(size: pd.Series, price: pd.Series) -> int:
        # Σ w·cents as an exact int64 — order-independent, overflow-safe at
        # TPC-H scales (cents < 2^31, sizes ≤ 50, rows per brand ≪ 2^31)
        return int((size.astype("int64") * (price * 100).round().astype("int64")).sum())

    return weighted_cents


def _size_total_udf():
    # grouped-agg pandas UDFs cannot mix with built-in aggregates in one
    # .agg() (INVALID_PANDAS_UDF_PLACEMENT) — the weight total is a second
    # pandas aggregate instead of F.sum
    @pandas_udf("long")
    def size_total(size: pd.Series) -> int:
        return int(size.astype("int64").sum())

    return size_total


@query(
    "q44_grouped_agg_udf_weighted_mean",
    oracle=(
        "SELECT p_brand, "
        "CAST(SUM(p_size * CAST(round(p_retailprice * 100) AS BIGINT)) AS DOUBLE) "
        "/ (100.0 * SUM(p_size)) AS w_mean_price, "
        "CAST(SUM(p_size) AS BIGINT) AS w_total "
        "FROM part GROUP BY p_brand ORDER BY p_brand"
    ),
    description=(
        "Q44: grouped-agg pandas UDF — size-weighted mean retail price per "
        "brand. The UDF aggregates exact integer cents per group (partial "
        "Arrow batches, no full-group materialization beyond the batch); "
        "the final division is one fixed fp op on both engines."
    ),
    tags=("udf",),
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["part"]
        .groupBy("p_brand")
        .agg(
            _weighted_cents_udf()("p_size", "p_retailprice").alias("w_cents"),
            _size_total_udf()("p_size").alias("w_total"),
        )
        .select(
            "p_brand",
            (F.col("w_cents").cast("double") / (100.0 * F.col("w_total"))).alias(
                "w_mean_price"
            ),
            "w_total",
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Q45 — UDTF-style explode via mapInPandas: one doc → one row per token
# ---------------------------------------------------------------------------


def _tokenize_batches(batches):
    for pdf in batches:
        toks = pdf["text"].str.split(" ")
        n = toks.str.len()
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].repeat(n).values,
                "pos": [i + 1 for length in n for i in range(length)],
                "token": [tok for row in toks for tok in row],
            }
        )


@query(
    "q45_map_in_pandas_tokenize",
    oracle=(
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents) "
        "SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, arr[u.pos] AS token "
        "FROM toks, LATERAL unnest(range(1, len(arr) + 1)) AS u(pos) "
        "ORDER BY doc_id, pos"
    ),
    description=(
        "Q45: UDTF-style one-to-many expansion with mapInPandas — tokenize "
        "documents.text, one output row per token with its 1-based "
        "position. Arrow batch iterator in, expanded batch iterator out; "
        "the built-in equivalent (posexplode(split())) stays fully "
        "JVM-side and is preferred when no Python logic is needed."
    ),
    tags=("udf",),
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", "text")
        .mapInPandas(_tokenize_batches, "doc_id long, pos long, token string")
        .orderBy("doc_id", "pos")
    )


__all__ = ["q42", "q43", "q44", "q45"]
