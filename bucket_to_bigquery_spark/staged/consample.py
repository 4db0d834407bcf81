"""STAGED r20 surface (built late r14, NOT registered — GATE_r14.md's
round-20 note budgets the slot) — q176: consistent (hash-threshold)
sampling audit — the VERSION-STABLE sampler the registry's sampling
family lacks: q49g stratifies and q59 weights, but both re-draw when
the corpus changes; hash-threshold sampling (``fold(id) < p·2⁶⁰``)
keeps a document's membership fixed across corpus versions, which is
what makes held-out sets survive re-crawls and dedup re-runs — and
the nested-rate property (the 1% sample is BY CONSTRUCTION a subset
of the 10% sample) lets one hash serve every downstream rate.

Reports, per source: corpus size, the exact 1% and 10% sample
counts, their e6 realized rates, and the exact count of 1%-members
that are NOT 10%-members — a column that is ZERO by the nesting law,
emitted so the law itself is driver-hash-pinned, not just tested.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the per-document key is the established 60-bit md5 fold
of ``'sample:' || doc_id`` (salted so this sampler is independent of
every other md5-fold use); thresholds are fixed integer literals
(⌊2⁶⁰·p⌋); counts exact; rates truncating divisions. ORDER BY the
unique source key.

Scale design (100 TB): ONE scan computes the fold map-side and
combines straight into the |sources|-row report — no shuffle of
documents, no window, no join, no driver collect. Membership is a
pure row-local predicate, exactly why this sampler is the one that
scales (and composes with q72's leakage-safe splitter: hash-sample
first, group-split the survivors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import tables

_T1 = (1 << 60) // 100       # p = 1%
_T10 = (1 << 60) // 10       # p = 10%

_FOLD_DUCK = (
    "CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), "
    "1, 15)) AS BIGINT)"
)
_FOLD_SPARK = (
    "cast(conv(substr(md5(concat('sample:', cast(doc_id as string))), "
    "1, 15), 16, 10) as bigint)"
)

_Q176_ORACLE = (
    f"WITH h AS (SELECT source, {_FOLD_DUCK} AS h FROM documents) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    f"CAST(SUM(CASE WHEN h < {_T1} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_p1, "
    f"CAST(SUM(CASE WHEN h < {_T10} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_p10, "
    f"CAST(SUM(CASE WHEN h < {_T1} THEN 1 ELSE 0 END) * 1000000 "
    "// COUNT(*) AS BIGINT) AS rate_p1_e6, "
    f"CAST(SUM(CASE WHEN h < {_T10} THEN 1 ELSE 0 END) * 1000000 "
    "// COUNT(*) AS BIGINT) AS rate_p10_e6, "
    # the nesting LAW: a 1%-member outside the 10% sample cannot
    # exist (t1 < t10); emitted so the law is value-oracled
    f"CAST(SUM(CASE WHEN h < {_T1} AND h >= {_T10} THEN 1 ELSE 0 END) "
    "AS BIGINT) AS nesting_violations "
    "FROM h GROUP BY source ORDER BY source"
)

_Q176_DESCRIPTION = (
    "Q176: consistent (hash-threshold) sampling audit — per source, "
    "exact 1% and 10% sample counts under the salted 60-bit md5 fold "
    "of the document id (membership fixed across corpus versions — "
    "the held-out-set property q49g/q59 cannot give), truncating-div "
    "realized rates, and the nesting-law violation count (zero BY "
    "CONSTRUCTION, emitted so the law itself is driver-hash-pinned). "
    "Scale-correct: one scan, row-local membership predicate, "
    "map-side combine to the |sources| frame — no shuffle, no window."
)


def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    h = d.select("source", F.expr(_FOLD_SPARK).alias("h"))
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("h") < _T1, 1).otherwise(0))
            .cast("long").alias("n_p1"),
            F.sum(F.when(F.col("h") < _T10, 1).otherwise(0))
            .cast("long").alias("n_p10"),
            F.expr(
                f"cast(sum(case when h < {_T1} then 1 else 0 end) "
                "* 1000000 div count(*) as bigint)"
            ).alias("rate_p1_e6"),
            F.expr(
                f"cast(sum(case when h < {_T10} then 1 else 0 end) "
                "* 1000000 div count(*) as bigint)"
            ).alias("rate_p10_e6"),
            F.sum(
                F.when((F.col("h") < _T1) & (F.col("h") >= _T10), 1)
                .otherwise(0)
            ).cast("long").alias("nesting_violations"),
        )
        .orderBy("source")
    )


STAGED = {
    "q176_consistent_sampling": (q176, _Q176_ORACLE, _Q176_DESCRIPTION,
                                 ("llm", "sampling")),
}


__all__ = ["q176", "STAGED"]
