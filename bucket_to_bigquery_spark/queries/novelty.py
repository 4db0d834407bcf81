"""q95: document novelty scoring — per document,
the fraction of its distinct 5-gram shingles that appear in NO earlier
document (ingest order = doc_id; any monotone timestamp works the same
way). The curriculum / crawl-frontier primitive: a feed whose novelty
collapses is re-crawling what the corpus already has, and
high-novelty-first ordering is the classic data-curriculum heuristic.

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). Shingling is
the shared q47 contract (``operators.dedup.shingles(tokens, DECONTAM_N)``
/ ``llm_queries._DECONTAM_SH_SQL``).

A shingle is novel FOR its first document only: novelty(d) =
|{s ∈ shingles(d) : min_corpus_doc(s) = d}| / |shingles(d)| — so the
per-document novel counts come straight off the first-seen frame with
NO join back to the (doc, shingle) pairs (group the min-doc frame by
its min). Zero-shingle documents surface with novelty 0 (left join
from the corpus), matching the q47d empty-doc convention.

Determinism: counts exact BIGINTs; novelty is round(x·1e6) BIGINT.

Scale design (100 TB): three linear map-side-combined aggregations —
distinct (doc_id, shingle) pairs (the q47 inverted-index shape, CACHED
for its two consumers), min(doc_id) per shingle, and two doc_id-grained
counts — joined at DOCUMENT grain. No pairwise anything: the plan never
forms doc×doc candidates, so it is strictly cheaper than the q47 dedup
pass it complements, and every shuffle key (shingle / doc_id) is the
natural high-cardinality key with no skew hot-spot (the DF cap that
q47 needs for pair-joins is unnecessary — min() is an algebraic
aggregate, fan-out-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import DECONTAM_N, shingles, tokens
from ..operators.similarity import _spread_small_input
from .llm_queries import _DECONTAM_SH_SQL, _TOKS_SQL
from .registry import query, tables

_Q95_ORACLE = (
    f"WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents), "
    f"sh AS (SELECT doc_id, {_DECONTAM_SH_SQL} AS shs FROM tok), "
    "x AS (SELECT DISTINCT doc_id, u.shingle FROM sh, "
    "LATERAL unnest(shs) AS u(shingle)), "
    "ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM x "
    "GROUP BY doc_id), "
    "fs AS (SELECT shingle, min(doc_id) AS first_doc FROM x "
    "GROUP BY shingle), "
    "nv AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n "
    "FROM fs GROUP BY first_doc) "
    "SELECT d.doc_id, CAST(COALESCE(ns.n, 0) AS BIGINT) AS n_shingles, "
    "CAST(COALESCE(nv.n, 0) AS BIGINT) AS n_novel, "
    "CASE WHEN COALESCE(ns.n, 0) = 0 THEN CAST(0 AS BIGINT) ELSE "
    "CAST(round(CAST(COALESCE(nv.n, 0) AS DOUBLE) / "
    "CAST(ns.n AS DOUBLE) * 1e6) AS BIGINT) END AS novelty_e6 "
    "FROM documents d LEFT JOIN ns ON ns.doc_id = d.doc_id "
    "LEFT JOIN nv ON nv.doc_id = d.doc_id ORDER BY d.doc_id"
)

_Q95_DESCRIPTION = (
    "Q95: per-document shingle novelty — fraction of a document's "
    "distinct 5-gram shingles first seen in IT (min doc_id over the "
    "corpus), the crawl-frontier / curriculum signal. Novel counts "
    "come off the first-seen frame by grouping on its min (no join "
    "back to the pair frame); zero-shingle docs kept at novelty 0. "
    "Exact BIGINT counts, e6 novelty. Row-local per-doc set sizes plus "
    "two map-side-combined aggregations over the exploded shingles; "
    "the join ships only narrow per-doc counts; no pairwise candidates "
    "anywhere."
)


@query("q95_shingle_novelty", oracle=_Q95_ORACLE, description=_Q95_DESCRIPTION,
       tags=("llm", "profiling"))
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    # r16: the documents parquet is a single row-group at test scale, so
    # the scan yields ONE split and the whole tokenize→shingle→explode
    # map phase ran single-task (phase probe: 6.2 s tokenize + 19.2 s
    # explode/partial-agg on one core). Round-robin the narrow raw rows
    # out to the cluster width BEFORE the CPU-heavy projection — at
    # warehouse scale the scan already has >= cores splits and this is
    # a no-op.
    docs = _spread_small_input(docs)
    # r16 (guide §2.4, remove shuffles outright): the (doc_id, shingle)
    # distinctness this query needs is PER-DOCUMENT only — a row-local
    # array_distinct replaces the old global `.distinct()` exchange over
    # the exploded string pairs. Per-doc set sizes come straight off the
    # array (size(array_distinct(shs)) — no explode, no aggregate); the
    # first-seen branch explodes the RAW shingle array (in-doc
    # duplicates collapse in the map-side partial min, so pre-dedup
    # there is wasted work). The final join ships only the narrow
    # (doc_id, n_shingles) projection — NOT the shingle arrays (the
    # r16e lesson: joining the array-carrying frame shuffled every
    # shingle through the doc_id exchange and tripled the query).
    # 4 exchanges + a cache -> 2 aggregation exchanges + 1 narrow join.
    sh = docs.select(
        "doc_id", shingles(tokens(F.col("text")), DECONTAM_N).alias("shs")
    )
    ns = sh.select(
        "doc_id",
        F.size(F.array_distinct("shs")).cast("long").alias("n_sh"),
    )
    # explode_outer + isNotNull instead of plain explode: Catalyst's
    # InferFiltersFromGenerate synthesizes `size(shs)>0 AND
    # isnotnull(shs)` below an INNER Generate and pushes it to the scan
    # with the whole tokenize→shingle HOF chain substituted in — the
    # chain then evaluates 2× per row on the pre-spread single-split
    # scan (measured: 8-9 s of the old 10.5 s total; 1.0 s with the
    # inference suppressed). outer Generate infers nothing; the explicit
    # null filter restores inner semantics exactly (shingles() elements
    # are concat_ws products, never null — only the empty/null-array
    # placeholder rows are dropped).
    fs = (
        sh.select("doc_id", F.explode_outer("shs").alias("shingle"))
        .where(F.col("shingle").isNotNull())
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    nv = (
        fs.groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nov"))
    )
    n_sh = F.col("n_sh")
    n_nov = F.coalesce(F.col("n_nov"), F.lit(0)).cast("long")
    return (
        ns.join(nv, "doc_id", "left")
        .select(
            "doc_id",
            n_sh.alias("n_shingles"),
            n_nov.alias("n_novel"),
            F.when(n_sh == 0, F.lit(0).cast("long")).otherwise(
                F.round(
                    n_nov.cast("double") / n_sh.cast("double") * F.lit(1e6)
                ).cast("long")
            ).alias("novelty_e6"),
        )
        .orderBy("doc_id")
    )


__all__ = ["q95"]
