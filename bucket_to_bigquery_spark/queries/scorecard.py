"""q102: per-source quality scorecard — the
one-table ingest-governance readout a corpus owner checks before
admitting a source into a training mix: volume, exact-duplicate load
(the q46 normalize contract), length profile, and language
concentration, one row per source.

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). Normalization
is the q46-family contract (``operators.dedup.normalize_text`` /
``llm_queries._NORM_SQL``).

Columns: n_docs; n_distinct_texts (distinct normalized text);
dup_excess = n_docs − n_distinct_texts (copies beyond each group's
keeper — the q46 survivor framing); dup_frac_e6; mean_chars
(round(Σ n_chars / n)); top_lang (max count, lang-asc ties) and its
share.

Determinism: all counts exact BIGINTs; the two fractions and the mean
are round(x·1e6)/round(x) BIGINTs; the top-language tie-break is the
total (count DESC, lang ASC) order.

Scale design (100 TB): one cached base projection (source, normalized
text, lang, n_chars) feeds both aggregations — a per-source
count/distinct/moment pass (distinct normalized text is the only
expensive aggregate: one expand shuffle keyed by (source, text), the
same cost center q46 already pays) and a (source, lang) count whose
top-1 window runs on the |sources|·|langs| frame, never on rows. The
final join is |sources|-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import normalize_text
from .llm_queries import _NORM_SQL
from .registry import query, tables

_Q102_ORACLE = (
    f"WITH base AS (SELECT source, {_NORM_SQL} AS norm, lang, n_chars "
    "FROM documents), "
    "agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(count(DISTINCT norm) AS BIGINT) AS n_distinct_texts, "
    "CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM base GROUP BY source), "
    "lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c, "
    "row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, "
    "lang ASC) AS rk FROM base GROUP BY source, lang) "
    "SELECT a.source, a.n_docs, a.n_distinct_texts, "
    "a.n_docs - a.n_distinct_texts AS dup_excess, "
    "CAST(round(CAST(a.n_docs - a.n_distinct_texts AS DOUBLE) / "
    "CAST(a.n_docs AS DOUBLE) * 1e6) AS BIGINT) AS dup_frac_e6, "
    "CAST(round(CAST(a.sum_chars AS DOUBLE) / CAST(a.n_docs AS DOUBLE)) "
    "AS BIGINT) AS mean_chars, "
    "l.lang AS top_lang, "
    "CAST(round(CAST(l.c AS DOUBLE) / CAST(a.n_docs AS DOUBLE) * 1e6) "
    "AS BIGINT) AS top_lang_share_e6 "
    "FROM agg a JOIN lc l ON l.source = a.source AND l.rk = 1 "
    "ORDER BY a.source"
)

_Q102_DESCRIPTION = (
    "Q102: per-source quality scorecard — volume, exact-duplicate load "
    "under the q46 normalize contract (dup_excess = docs minus distinct "
    "normalized texts), mean length, top language + share (count DESC, "
    "lang ASC ties). Exact BIGINT counts, e6 fractions. One cached base "
    "projection feeds the count/distinct/moment pass and the "
    "(source,lang) top-1 window (vocabulary-sized frames after the two "
    "map-side-combined shuffles)."
)


@query("q102_source_scorecard", oracle=_Q102_ORACLE,
       description=_Q102_DESCRIPTION, tags=("llm", "governance"))
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    # r17 (guide §5, the q89/q95 cache lesson): the corpus-sized cache
    # that used to feed both aggregations cost more than it saved — the
    # language branch needs only (source, lang), so caching forced it to
    # read materialized norm strings it never uses, while the agg branch
    # reads the cache exactly once (no reuse to amortize). Each branch
    # now scans the parquet with ITS OWN pruned columns; norm is
    # computed once, in the one branch that consumes it (interleaved
    # A/B: cpu 2.56 -> 2.30 s, wall 0.84 -> 0.70 s, identical rows).
    base = docs.select(
        "source", normalize_text(F.col("text")).alias("norm"),
        "lang", "n_chars",
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("norm").cast("long").alias("n_distinct_texts"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc())
    lc = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select("source", "lang", "c", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") == 1)
    )
    dup = (F.col("n_docs") - F.col("n_distinct_texts")).cast("long")
    return (
        agg.join(lc, "source")
        .select(
            "source", "n_docs", "n_distinct_texts",
            dup.alias("dup_excess"),
            F.round(dup.cast("double") / F.col("n_docs").cast("double")
                    * F.lit(1e6)).cast("long").alias("dup_frac_e6"),
            F.round(F.col("sum_chars").cast("double")
                    / F.col("n_docs").cast("double"))
            .cast("long").alias("mean_chars"),
            F.col("lang").alias("top_lang"),
            F.round(F.col("c").cast("double")
                    / F.col("n_docs").cast("double") * F.lit(1e6))
            .cast("long").alias("top_lang_share_e6"),
        )
        .orderBy("source")
    )


__all__ = ["q102"]
