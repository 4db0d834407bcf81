"""q57: Bloom-filter benchmark decontamination.

The operation: q47d's any-overlap decontamination gate, re-based on a
BLOOM FILTER of the benchmark's word-5-gram shingles instead of the raw
shingle set. Why this is the 100 TB shape: q47d broadcasts the
benchmark's distinct shingles — fine while eval sets are MBs, but a
decontamination service screening against MANY benchmarks (or n-gram
blocklists) broadcasts gigabytes. The Bloom bit-set is bounded at ``m``
bits BY CONSTRUCTION regardless of how many shingles feed it; here the
'bit-set' is its Spark-native relational form — the DISTINCT set of set
bit positions (≤ m = 65536 rows ≈ 0.5 MB broadcast), probed with a
broadcast equi-join, so the corpus text never shuffles. Bloom semantics
are preserved exactly: no false negatives (every truly contaminated
shingle hits all k positions), tunable false positives (reported per doc
next to the exact count, so the FP rate is driver-visible).

Every hash is deterministic md5 (the q49g/q56 cross-engine trick) — no
RNG, no library bloom — so even the sketch is value-oracled: DuckDB
computes the identical positions and the identical per-doc counts.

Cites: reference has no dedup/decontamination surface (the 589-LoC
loader delegates querying to BigQuery, BucketToBigQuery.js:361-365);
this extends SURVEY §2.C Q47d along the brief's "novel sketch as a
composition of built-in operators" path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import DECONTAM_N, shingles, tokens
from .llm_queries import _DECONTAM_SH_SQL, _TOKS_SQL
from .registry import query, tables

# m = 2^16 bit positions, k = 4 salted hashes. At the gate corpus
# (~2.4k benchmark shingles at sf0.01) the filter is sparse and the FP
# count small but nonzero — visible in the output, which is the point.
_BLOOM_M = 65536
_BLOOM_K = 4
# benchmark split: decorrelated from q47d's doc_id % 20 == 0 (by CRT the
# residues overlap at doc_id ≡ 140 mod 380 — NOT disjoint, and need not
# be: the queries are independent; a different residue pair just keeps
# the two gates independently evolvable)
_BENCH_MOD, _BENCH_REM = 19, 7

# _TOKS_SQL/_DECONTAM_SH_SQL come from llm_queries: q57's oracle MUST tokenize
# and shingle exactly like q47d's (both mirror operators/dedup.tokens/
# shingles) — one definition, no third private copy to desynchronize.
# position of shingle s under salt j — identical expression both engines:
# first 8 md5 hex chars of '<j>:<s>' as int64, mod m
_POS_SQL = (
    "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {s}), 1, 8)) "
    f"AS BIGINT) % {_BLOOM_M}"
)


def _pos(salt, shingle) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(salt.cast("string"), F.lit(":"), shingle)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
    )


_Q57_ORACLE = (
    f"WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents), "
    f"sh AS (SELECT doc_id, {_DECONTAM_SH_SQL} AS shs FROM tok), "
    "bench AS (SELECT DISTINCT u.shingle FROM sh, "
    f"LATERAL unnest(shs) AS u(shingle) WHERE doc_id % {_BENCH_MOD} = {_BENCH_REM}), "
    f"salts AS (SELECT unnest(range(0, {_BLOOM_K})) AS j), "
    "bloom AS (SELECT DISTINCT "
    + _POS_SQL.format(j="s.j", s="b.shingle")
    + " AS pos FROM bench b, salts s), "
    f"corpus AS (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} <> {_BENCH_REM}), "
    "cs AS (SELECT c.doc_id, u.shingle FROM corpus c, "
    "LATERAL unnest(shs) AS u(shingle)), "
    "pp AS (SELECT cs.doc_id, cs.shingle, "
    + _POS_SQL.format(j="s.j", s="cs.shingle")
    + " AS pos FROM cs CROSS JOIN salts s), "
    "probe AS (SELECT pp.doc_id, pp.shingle, "
    "CAST(COUNT(bl.pos) AS BIGINT) AS k_hits "
    "FROM pp LEFT JOIN bloom bl ON bl.pos = pp.pos "
    "GROUP BY pp.doc_id, pp.shingle), "
    "flags AS (SELECT p.doc_id, "
    f"CAST(SUM(CASE WHEN p.k_hits = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_bloom_flagged, "
    "CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_exact "
    "FROM probe p LEFT JOIN bench b ON b.shingle = p.shingle "
    "GROUP BY p.doc_id) "
    "SELECT c.doc_id, CAST(len(c.shs) AS BIGINT) AS n_shingles, "
    "COALESCE(f.n_bloom_flagged, 0) AS n_bloom_flagged, "
    "COALESCE(f.n_exact, 0) AS n_exact_contaminated, "
    "COALESCE(f.n_bloom_flagged, 0) - COALESCE(f.n_exact, 0) "
    "AS n_false_positive, "
    "COALESCE(f.n_bloom_flagged, 0) >= 1 AS bloom_would_drop "
    "FROM corpus c LEFT JOIN flags f ON f.doc_id = c.doc_id "
    "ORDER BY c.doc_id"
)

_Q57_DESCRIPTION = (
    "Q57: Bloom-filter benchmark decontamination — the q47d any-overlap "
    "gate probed against a 65536-bit / 4-hash Bloom of the benchmark's "
    "word-5-gram shingles instead of the raw shingle set. The broadcast "
    "is the DISTINCT set-bit positions (bounded at m rows no matter how "
    "large the benchmark grows — the 100 TB blocklist shape), corpus "
    "text never shuffles, and deterministic md5 positions make the "
    "sketch itself value-oracled. Per doc: shingle count, bloom-flagged "
    "count, exact contaminated count, false positives (bloom − exact; "
    "never negative — Bloom has no false negatives, pinned in pytest), "
    "and the drop verdict."
)


@query("q57_bloom_decontamination", oracle=_Q57_ORACLE,
       description=_Q57_DESCRIPTION, tags=("llm",))
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    # r17 (guide §5): the old corpus-wide .persist() materialized every
    # doc's shingle array for exactly two DISJOINT doc_id slices — the
    # benchmark (5%) and corpus (95%) branches — so recomputing the
    # tokenize/shingle projection per branch costs ~one corpus pass
    # total and the persist bought only its own materialization cost.
    # Deliberately NO round-robin pre-spread here: this is a ~3 s pass
    # and the interleaved 3-way A/B reproduced the r16 negative result
    # (32-way spread: cpu 42 s vs 7 s unspread — task-contention
    # overhead, OPTIMIZATION_r16.md "Negative results").
    d = (
        # two-step select: the shingle expression references its token
        # array 3×; an attribute boundary computes it once per row
        # (q47d's measured 10×-at-sf0.1 lesson).
        docs.select("doc_id", tokens("text").alias("toks"))
        .select(
            "doc_id", F.array_distinct(shingles(F.col("toks"), DECONTAM_N)).alias("shs")
        )
    )
    bench = (
        d.where(F.col("doc_id") % _BENCH_MOD == _BENCH_REM)
        .select(F.explode("shs").alias("shingle"))
        .distinct()
    )
    salts = F.array(*[F.lit(j) for j in range(_BLOOM_K)])
    # r17 (guide §2.4 remove shuffles / §3): the Bloom 'bit-set' is now
    # a REAL bitmap — the ≤ m distinct set-bit positions OR-fold into
    # m/64 words and densify into ONE row holding an array<long> (8 KB
    # at m=65536, still bounded by construction however large the
    # benchmark grows). The old shape exploded every corpus shingle ×
    # k salts (4× the corpus-shingle stream), probed each row through a
    # broadcast join, and re-aggregated the 4× stream back per
    # (doc, shingle); now the k probes are ROW-LOCAL array index/shift
    # tests against the crossJoined 1-row bitmap — no salt explode, no
    # probe join, no (doc, shingle) re-aggregation exchange. Position
    # math is the identical md5 expression, so results are unchanged
    # (oracle untouched, value-pinned at both SFs).
    words = (
        bench.select(F.explode(salts).alias("j"), "shingle")
        .select(_pos(F.col("j"), F.col("shingle")).alias("pos"))
        .groupBy(F.expr("CAST(pos div 64 AS INT)").alias("widx"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), "
                "CAST(pos % 64 AS INT)))"
            ).alias("word")
        )
    )
    bitmap = words.agg(
        F.collect_list(F.struct("widx", "word")).alias("entries")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_BLOOM_M // 64 - 1)),
            lambda i: F.coalesce(
                F.element_at(F.map_from_entries(F.col("entries")), i),
                F.lit(0).cast("long"),
            ),
        ).alias("bloom_bits")
    )
    corpus = d.where(F.col("doc_id") % _BENCH_MOD != _BENCH_REM)
    # k row-local bit tests; a shingle is bloom-positive iff ALL k hit.
    # NULL shingles (explode_outer placeholders of shingle-free docs)
    # yield NULL positions — the when().otherwise(0) keeps their flag
    # contribution an explicit 0, matching the old join-miss semantics.
    hits = " + ".join(
        f"(shiftright(element_at(bloom_bits, CAST(p{j} div 64 AS INT) + 1), "
        f"CAST(p{j} % 64 AS INT)) & 1)"
        for j in range(_BLOOM_K)
    )
    bloom_flag = F.expr(
        f"CASE WHEN shingle IS NOT NULL AND ({hits}) = {_BLOOM_K} "
        "THEN 1 ELSE 0 END"
    )
    probe = (
        corpus.select("doc_id", F.explode_outer("shs").alias("shingle"))
        .crossJoin(F.broadcast(bitmap))
        .select(
            "doc_id", "shingle", "bloom_bits",
            *[_pos(F.lit(j), F.col("shingle")).alias(f"p{j}")
              for j in range(_BLOOM_K)],
        )
        .select("doc_id", "shingle", bloom_flag.alias("bloom_hit"))
        .join(
            F.broadcast(bench.withColumn("exact", F.lit(1))), "shingle", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("shingle").alias("n_shingles"),
            F.sum("bloom_hit").cast("long").alias("n_bloom_flagged"),
            F.sum(F.coalesce(F.col("exact"), F.lit(0))).alias("n_exact"),
        )
    )
    nb, ne = F.col("n_bloom_flagged"), F.col("n_exact")
    return probe.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        nb.cast("long").alias("n_bloom_flagged"),
        ne.cast("long").alias("n_exact_contaminated"),
        (nb - ne).cast("long").alias("n_false_positive"),
        (nb >= 1).alias("bloom_would_drop"),
    ).orderBy("doc_id")


__all__ = ["q57"]
