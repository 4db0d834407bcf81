"""STAGED r18 surface (built late r13, NOT registered — GATE_r13.md's
round-18 note budgets the slot) — q152: two chained BPE merge rounds
— the composition discipline q151 applies to the Lloyd loop, applied
to the OTHER iterative trainer in the surface: q67 computes one BPE
merge round's pair statistics; a vocabulary trainer then APPLIES the
winning merge to the corpus and recounts. This entry runs that chain
— round-1 pair counts, greedy application of the top merge to every
document's tokenization, round-2 pair counts over the MERGED corpus
— and emits both rounds' top-10 under a FULL value oracle.

The interesting machine is the greedy merge application expressed
declaratively: BPE replaces occurrences of the winning pair (A, B)
LEFT-TO-RIGHT WITHOUT OVERLAP. For A ≠ B occurrences can never
overlap (an overlap at distance 1 forces B = A), so all merge; for
A = B, consecutive occurrence positions chain and greedy keeps the
1st, 3rd, … of each run — computed with two windows (run id =
position − row_number; keep odd within-run indexes), never a
sequential scan. The merged corpus rebuilds row-locally
(filter/transform over the token array against the per-doc merged
position set).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: the q67 tokenizer contract (operators.dedup.tokens /
llm_queries._TOKS_SQL — the ONE shared definition; MODULE_DEPS
records both edges, so this registers r18, after the r15 llm
rotation); winner = (count DESC, pair ASC) — exact; the merged token
joins its parts with chr(31) (unit separator — cannot appear in
whitespace-split tokens); exact integer counts; ordered
(round, rank).

Scale design (100 TB): each round is q67's shape — row-local pair
projection, ONE map-side-combined pair count, TakeOrdered — plus a
broadcast 1-row winner and a per-doc occurrence frame whose windows
partition BY DOCUMENT (parallel, occurrence-sparse). The merged
corpus never materializes outside the round-2 projection; nothing
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from ..queries.llm_queries import _TOKS_SQL
from ..queries.registry import tables

_TOPK = 10
_MERGE_SEP = "\x1f"

_PAIRS_SQL = (
    "unnest(list_transform(range(1, len({t})), "
    "i -> {t}[i] || ' ' || {t}[i + 1]))"
)

_Q152_ORACLE = (
    f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents), "
    "tk AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2), "
    "p1 AS (SELECT " + _PAIRS_SQL.format(t="t") + " AS pair FROM tk), "
    "c1 AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p1 "
    "GROUP BY pair), "
    "win AS (SELECT split_part(pair, ' ', 1) AS wa, "
    "split_part(pair, ' ', 2) AS wb FROM c1 "
    "ORDER BY n DESC, pair ASC LIMIT 1), "
    # occurrences of the winning pair, per document
    "occ AS (SELECT tk.doc_id, r.i FROM tk, win, "
    "unnest(range(1, len(t))) r(i) "
    "WHERE t[i] = win.wa AND t[i + 1] = win.wb), "
    # greedy: runs of consecutive positions keep odd within-run indexes
    "g1 AS (SELECT doc_id, i, i - row_number() OVER "
    "(PARTITION BY doc_id ORDER BY i) AS run FROM occ), "
    "g2 AS (SELECT doc_id, i FROM (SELECT doc_id, i, row_number() "
    "OVER (PARTITION BY doc_id, run ORDER BY i) AS idx FROM g1) "
    "WHERE idx % 2 = 1), "
    "m AS (SELECT doc_id, list_sort(list(i)) AS mpos FROM g2 "
    "GROUP BY doc_id), "
    # rebuild the merged tokenization row-locally
    "nt AS (SELECT tk.doc_id, list_transform(list_filter("
    "range(1, len(t) + 1), "
    "j -> NOT list_contains(coalesce(mpos, CAST([] AS BIGINT[])), "
    "j - 1)), "
    "j -> CASE WHEN list_contains(coalesce(mpos, "
    "CAST([] AS BIGINT[])), j) THEN t[j] || chr(31) || t[j + 1] "
    "ELSE t[j] END) AS t2 FROM tk LEFT JOIN m ON tk.doc_id = m.doc_id), "
    "p2 AS (SELECT " + _PAIRS_SQL.format(t="t2")
    + " AS pair FROM nt WHERE len(t2) >= 2), "
    "c2 AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p2 "
    "GROUP BY pair), "
    "r1 AS (SELECT CAST(1 AS BIGINT) AS round, CAST(row_number() OVER "
    "(ORDER BY n DESC, pair ASC) AS BIGINT) AS rank, pair, n FROM c1), "
    "r2 AS (SELECT CAST(2 AS BIGINT) AS round, CAST(row_number() OVER "
    "(ORDER BY n DESC, pair ASC) AS BIGINT) AS rank, pair, n FROM c2) "
    "SELECT round, rank, pair, n FROM "
    f"(SELECT * FROM r1 WHERE rank <= {_TOPK} "
    f"UNION ALL SELECT * FROM r2 WHERE rank <= {_TOPK}) "
    "ORDER BY round, rank"
)

_Q152_DESCRIPTION = (
    "Q152: two chained BPE merge rounds — q67's pair statistics, then "
    "the GREEDY APPLICATION of the winning merge to every document "
    "(left-to-right non-overlapping: all occurrences merge when the "
    "pair's halves differ — overlap at distance 1 forces equality — "
    "and equal-halves runs keep odd within-run indexes via two "
    "doc-partitioned windows, never a sequential scan), then the "
    "recount over the merged corpus; both rounds' top-10 under one "
    "oracle. The q151 composition discipline applied to the other "
    "iterative trainer. Shared q67 tokenizer contract; merged tokens "
    "join with the unit separator; exact counts; row-local rebuild; "
    "nothing collects to the driver."
)


def _pairs(col: str):
    return F.explode(
        F.expr(
            f"transform(sequence(1, size({col}) - 1), "
            f"i -> concat_ws(' ', element_at({col}, i), "
            f"element_at({col}, i + 1)))"
        )
    )


def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    tk = docs.select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= 2).cache()  # both rounds + the rebuild
    c1 = (
        tk.select(_pairs("t").alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .cache()  # two consumers: the winner + the round-1 ranking
    )
    win = (
        c1.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1)
        .select(
            F.split("pair", " ").getItem(0).alias("wa"),
            F.split("pair", " ").getItem(1).alias("wb"),
        )
    )
    occ = (
        tk.crossJoin(F.broadcast(win))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "filter(sequence(1, size(t) - 1), "
                    "i -> element_at(t, i) = wa "
                    "AND element_at(t, i + 1) = wb)"
                )
            ).alias("i"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy("i")
    g1 = occ.withColumn(
        "run", F.col("i") - F.row_number().over(wd))
    wr = Window.partitionBy("doc_id", "run").orderBy("i")
    g2 = g1.withColumn("idx", F.row_number().over(wr)).where(
        F.col("idx") % 2 == 1)
    m = g2.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("i")).alias("mpos"))
    nt = (
        tk.join(m, "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "transform(filter(sequence(1, size(t)), "
                "j -> NOT array_contains(coalesce(mpos, array()), "
                "j - 1)), "
                "j -> CASE WHEN array_contains(coalesce(mpos, "
                f"array()), j) THEN concat(element_at(t, j), "
                f"'{_MERGE_SEP}', element_at(t, j + 1)) "
                "ELSE element_at(t, j) END)"
            ).alias("t2"),
        )
    )
    c2 = (
        nt.where(F.size("t2") >= 2)
        .select(_pairs("t2").alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )

    def ranked(cnt: DataFrame, rnd: int) -> DataFrame:
        w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
        return (
            cnt.orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(_TOPK)
            .select(
                F.lit(rnd).cast("long").alias("round"),
                F.row_number().over(w).cast("long").alias("rank"),
                "pair", "n",
            )
        )

    return ranked(c1, 1).unionAll(ranked(c2, 2)).orderBy("round", "rank")


STAGED = {
    "q152_bpe_two_merges": (q152, _Q152_ORACLE, _Q152_DESCRIPTION,
                            ("llm", "tokenstats")),
}


__all__ = ["q152", "STAGED"]
