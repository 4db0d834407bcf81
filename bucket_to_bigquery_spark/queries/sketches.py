"""q49n: count-min-sketch heavy hitters.

The operation: a d×w count-min sketch over the corpus token stream — the
"novel sketch as a composition of built-ins" path (brief option (a)):
every counter update is a row-local md5-derived (row, col) projection
followed by ONE bounded aggregation, and the finished grid has a FIXED
size (d·w cells) no matter how many tokens flowed in. No RNG anywhere:
the d hash rows are disjoint md5 hex windows, so the sketch is
deterministic and the DuckDB oracle verifies the full result by value —
rare for a sketch, and the reason this entry gets a real hash row instead
of rows-only.

Scale (100 TB): the token stream never materializes per-term state —
map-side combine collapses each partition's updates into ≤ d·w partial
cells before the single shuffle, and the merged grid (≤ 65 536 cells)
broadcasts to probe any number of candidate terms. The exact-count branch
here is the gate-scale AUDIT column (it certifies the CMS overestimate
property est ≥ exact row by row); a warehouse-scale run drops it — the
sketch exists precisely so the exact per-term group-by never runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from .registry import query, tables

CMS_DEPTH = 4       # d: independent hash rows (disjoint md5 hex windows)
CMS_WIDTH = 16384   # w: counters per row (2^14 → grid ≤ 65 536 cells)
_TOP_K = 20
_CAND_MOD = 20      # candidate stream: distinct terms of doc_id % 20 == 7


def _col_hash(term: Column, row: int) -> Column:
    """Row ``row``'s counter column for ``term``: 7 md5 hex chars starting
    at offset 8·row (rows use disjoint windows of the one md5) → int64 →
    mod w. 7 hex chars < 2^28, so the conv result is exact in both
    engines."""
    return (
        F.conv(F.substring(F.md5(term), 8 * row + 1, 7), 16, 10)
        .cast("long") % CMS_WIDTH
    )


def _token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    return (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .where(F.col("term") != "")
    )


def _cms_grid(stream: DataFrame) -> DataFrame:
    """The d×w grid as (r, c, cnt) rows: every token occurrence emits its d
    cells row-locally; ONE aggregation on the bounded (r, c) key space —
    map-side combine does the heavy lifting, the shuffle moves ≤ d·w
    partials per map task regardless of corpus size."""
    cells = stream.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _col_hash(F.col("term"), r).alias("c"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("cell")
    )
    return (
        cells.select("cell.r", "cell.c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_TOKS_SQL = "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
_CELL_SQL = (
    f"CAST(('0x' || substr(md5(term), r * 8 + 1, 7)) AS BIGINT) % {CMS_WIDTH}"
)

_Q49N_ORACLE = (
    f"WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents), "
    "stream AS (SELECT doc_id, term FROM tok WHERE term <> ''), "
    f"rows_ AS (SELECT unnest(range(0, {CMS_DEPTH})) AS r), "
    f"grid AS (SELECT r, {_CELL_SQL} AS c, COUNT(*) AS cnt "
    "FROM stream CROSS JOIN rows_ GROUP BY 1, 2), "
    f"cand AS (SELECT DISTINCT term FROM stream WHERE doc_id % {_CAND_MOD} = 7), "
    f"cand_cells AS (SELECT term, r, {_CELL_SQL} AS c FROM cand CROSS JOIN rows_), "
    "est AS (SELECT term, MIN(cnt) AS est_count "
    "FROM cand_cells JOIN grid USING (r, c) GROUP BY term), "
    "exact AS (SELECT term, COUNT(*) AS exact_count FROM stream "
    "WHERE term IN (SELECT term FROM cand) GROUP BY term) "
    "SELECT est.term, est_count, exact_count FROM est JOIN exact USING (term) "
    f"ORDER BY est_count DESC, term LIMIT {_TOP_K}"
)

_Q49N_DESCRIPTION = (
    "Q49n: count-min-sketch heavy hitters — a deterministic d=4 × w=16384 "
    "CMS over the corpus token stream (md5-windowed row hashes, no RNG), "
    "built with one bounded-key aggregation and broadcast to estimate "
    "candidate-term frequencies; top-20 by estimate with the exact count "
    "as the audit column (est ≥ exact always; equality whenever the term's "
    "4 cells are collision-free)."
)


@query("q49n_heavy_hitters_cms", oracle=_Q49N_ORACLE,
       description=_Q49N_DESCRIPTION, tags=("llm",))
def q49n(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _token_stream(spark, sf_dir)
    grid = _cms_grid(stream)
    cand = (
        stream.where(F.col("doc_id") % _CAND_MOD == 7)
        .select("term").distinct()
    )
    cand_cells = cand.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _col_hash(F.col("term"), r).alias("c"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("term", "cell.r", "cell.c")
    est = (
        # the grid is the broadcast side: ≤ d·w cells by construction, while
        # the candidate stream scales with the corpus
        cand_cells.join(F.broadcast(grid), ["r", "c"])
        .groupBy("term")
        .agg(F.min("cnt").alias("est_count"))
    )
    exact = (
        stream.join(F.broadcast(cand), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        est.join(exact, "term")
        .orderBy(F.col("est_count").desc(), "term")
        .limit(_TOP_K)
    )


__all__ = ["q49n", "CMS_DEPTH", "CMS_WIDTH"]
