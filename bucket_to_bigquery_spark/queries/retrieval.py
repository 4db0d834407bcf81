"""New r10 surface (fourth batch) — q75: BM25 ranked retrieval — score
the document corpus against a fixed keyword-query set and return the
top-5 documents per query (the IR / retrieval-evaluation primitive of a
training-data pipeline: dataset search, contamination triage, RAG
recall checks all reduce to "rank the corpus for these terms").

Reference parity: n/a — the reference has no text surface; declared
engine surface (SURVEY §2.C extension, registered r10). Tokenization is
the ONE shared definition: ``operators.dedup.tokens`` on the Spark side
and ``llm_queries._TOKS_SQL`` in the oracle (the q46/q49/q67 contract).

BM25 (k1=1.2, b=0.75, the Robertson/Sparck-Jones idf with +1 flooring):

    idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
    norm(t,d) = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Determinism contract (the q49k pattern): tf/df/dl/N are exact integer
aggregates; each per-(doc,term) contribution is one double expression —
written with IDENTICAL operand order on both engines, with dl/avgdl
expanded to (dl*N)/total_dl so no intermediate average is materialized
— then scaled to an integer (round(x*1e6)). The per-(query,doc) score
is a sum of those BIGINTs: order-independent, so the cross-engine hash
compare is exact-int; the only libm call (ln) sits inside the rounding.

Scale design (100 TB): the corpus token stream is filtered to the query
vocabulary BEFORE the tf aggregation — the pushed ``isin`` means the
(doc,term) shuffle carries only matching postings, ~|postings(q-terms)|
rows, not the corpus. Document length is a row-local ``size(tokens)``
projection (no shuffle); N/total_dl is a scalar aggregate crossed in as
a 1-row broadcast; df and the query-term map are vocabulary-bounded
broadcasts. The corpus IS tokenized twice (once for the corpus-stats
scalar, once for the filtered postings) — a deliberate trade-off:
caching the tokenized corpus materializes the token stream (spill +
write at warehouse scale), while the second pass re-reads one string
column and re-runs cheap JVM splits; a production deployment would
instead persist dl as a precomputed column. Per-query ranking is a row_number window whose rank<=5
filter pushes down as WindowGroupLimit (partial top-k per partition
ahead of the exchange — plan-pinned, the q48 pattern). Net: ONE data
shuffle on (doc_id, term) plus the top-k exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from .llm_queries import _TOKS_SQL
from .registry import query, tables

_K1 = "1.2"
_B = "0.75"
_TOPK = 5

# Fixed benchmark queries over the synthetic corpus vocabulary.
_QUERYSET: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("engine_ops", ("spark", "table", "query")),
    ("streaming", ("stream", "window")),
    ("physical", ("join", "merge", "sort")),
)

_QT_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, ts in _QUERYSET for t in ts
)

# One double expression per (doc, term), identical operand order on both
# engines; {tf}/{df}/{dl}/{nd}/{td} substitute each side's column refs.
_CONTRIB_FMT = (
    "CAST(round(ln(1.0 + ((CAST({nd} AS DOUBLE) - CAST({df} AS DOUBLE)) + 0.5) "
    "/ (CAST({df} AS DOUBLE) + 0.5)) * ((CAST({tf} AS DOUBLE) * ({k1} + 1.0)) "
    "/ (CAST({tf} AS DOUBLE) + {k1} * ((1.0 - {b}) + {b} * ((CAST({dl} AS DOUBLE) "
    "* CAST({nd} AS DOUBLE)) / CAST({td} AS DOUBLE))))) * 1e6) AS BIGINT)"
)

_Q75_ORACLE = (
    f"WITH qt(query_id, term) AS (VALUES {_QT_VALUES}), "
    f"dtok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
    "dlen AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM dtok), "
    "stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(dl) AS BIGINT) AS total_dl FROM dlen), "
    "tok AS (SELECT doc_id, unnest(toks) AS term FROM dtok), "
    "tf AS (SELECT tok.doc_id, tok.term, dlen.dl, "
    "CAST(count(*) AS BIGINT) AS tf FROM tok "
    "JOIN dlen ON tok.doc_id = dlen.doc_id "
    "WHERE tok.term IN (SELECT DISTINCT term FROM qt) "
    "GROUP BY tok.doc_id, tok.term, dlen.dl), "
    "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term), "
    "contrib AS (SELECT qt.query_id, tf.doc_id, "
    + _CONTRIB_FMT.format(tf="tf.tf", df="df.df", dl="tf.dl",
                          nd="stats.n_docs", td="stats.total_dl",
                          k1=_K1, b=_B)
    + " AS c_e6 FROM tf JOIN df USING (term) JOIN qt USING (term) "
    "CROSS JOIN stats), "
    "scored AS (SELECT query_id, doc_id, CAST(sum(c_e6) AS BIGINT) AS score_e6, "
    "CAST(count(*) AS BIGINT) AS n_terms FROM contrib GROUP BY query_id, doc_id) "
    "SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id "
    "ORDER BY score_e6 DESC, doc_id ASC) AS BIGINT) AS rank, "
    f"doc_id, score_e6, n_terms FROM scored QUALIFY rank <= {_TOPK} "
    "ORDER BY query_id, rank"
)

_Q75_DESCRIPTION = (
    "Q75: BM25 top-5 retrieval for a fixed keyword-query set — tf/df/"
    "dl/N exact integer aggregates, one double BM25 contribution per "
    "(doc,term) in identical operand order on both engines scaled to "
    "round(x*1e6), per-(query,doc) score an order-independent BIGINT "
    "sum (the q49k transcendental contract). Token stream filtered to "
    "the query vocabulary BEFORE the tf shuffle; df + query map + "
    "corpus stats broadcast; rank<=5 pushes down as WindowGroupLimit "
    "(plan-pinned). One posting shuffle + the top-k exchange."
)


@query("q75_bm25_topk", oracle=_Q75_ORACLE, description=_Q75_DESCRIPTION,
       tags=("llm", "retrieval"))
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    all_terms = sorted({t for _, ts in _QUERYSET for t in ts})

    dtok = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    dlen = dtok.select(
        "doc_id", F.size("toks").cast("long").alias("dl"), "toks"
    )
    stats = dlen.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    tf = (
        # r17 (the q95/q49l lesson, guide §2.4): an INNER explode over the
        # tokens() attribute lets InferFiltersFromGenerate synthesize
        # `size(chain)>0 AND isnotnull(chain)` with the whole tokenize
        # chain substituted into a Filter above BOTH corpus scans — the
        # chain then evaluated twice per row per pass. explode_outer
        # blocks the inference; its one NULL placeholder row per empty
        # array is dropped by the existing vocabulary isin filter (NULL
        # isin(...) is not TRUE), so inner semantics are exact — real
        # tokens are split() products and never null.
        dlen.select("doc_id", "dl", F.explode_outer("toks").alias("term"))
        .where(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qt = (
        spark.range(1)
        .select(F.explode(F.array(*[
            F.struct(F.lit(qid).alias("query_id"), F.lit(t).alias("term"))
            for qid, ts in _QUERYSET for t in ts
        ])).alias("qt"))
        .select("qt.query_id", "qt.term")
    )

    contrib = F.expr(_CONTRIB_FMT.format(
        tf="tf", df="df", dl="dl", nd="n_docs", td="total_dl",
        k1=_K1, b=_B,
    )).alias("c_e6")
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", contrib)
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("c_e6").cast("long").alias("score_e6"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e6").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .select("query_id", "rank", "doc_id", "score_e6", "n_terms")
        .orderBy("query_id", "rank")
    )


__all__ = ["q75"]
