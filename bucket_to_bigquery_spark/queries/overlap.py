"""q89: EXACT pairwise source content overlap — since r12 the
FLAGGED-PAIR VERIFIER of the q89b MinHash estimate (sketch_overlap.py):
q89b's |sources|²·k sketch comparison is the standing full-corpus scan;
this exact form re-runs on the pairs it flags. For every source pair,
the Jaccard overlap of their distinct 5-gram shingle sets (the
ingest-governance number behind "these two crawls are 30 % the same
content": run before paying to deduplicate, after adding a feed, and
when pruning redundant sources; shingle-level overlap catches shared
content that exact-hash overlap misses — this synthetic corpus, like
most real pairs of feeds, has nearly zero cross-source EXACT duplicates
while sharing plenty of phrasing).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension, registered r10). Shingling is
the q47-family contract — ``operators.dedup.shingles(tokens, 5)`` on
the Spark side and ``llm_queries._SH5_SQL`` in the oracle, the same
shared definition q47d's decontamination gate keys on.

    J(a,b) = |Sₐ ∩ S_b| / (|Sₐ| + |S_b| − |Sₐ ∩ S_b|)

over each source's DISTINCT shingle set. Only pairs with a non-empty
intersection appear (the equi-join produces exactly those — absent
pair = 0 overlap, documented). Counts exact; J is one double division
scaled to round(x·1e6).

Scale design (100 TB, r16 shape): ONE corpus-sized shuffle — the raw
exploded (source, 8-byte key) rows group by key with a map-side-
combined collect_set (the set dedups, so the old separate DISTINCT
pass and its corpus-sized .cache() are gone), then the corpus
collapses to one row per DISTINCT SOURCE SET (≤ 2^|sources| rows)
behind an eager localCheckpoint barrier; pair counts and set sizes
are row-local expansions of that tiny frame (n_shared(a,b) = Σ cnt
over sets containing both — exactly |Sₐ ∩ S_b|). The old shape's
sh-keyed self-join (two further corpus-sized exchanges + sort-merge
fan-out rows) is gone; the worst-case |sources|² fan-out survives
only as in-row array math over the tiny set frame. Documents never
shuffle on a key — only 8-byte md5-folded shingle KEYS move
(VERDICT r10 #5: the q47b shingle_hash fold, identical in both
engines, shrinking every exchange vs the ~25-byte shingle strings).
Cost note: on a corpus where most shingles are common to most sources
(this synthetic vocabulary; or real feeds syndicating one wire), the
per-shingle fan-out approaches |sources|² on every shingle and EXACT
overlap gets hot (the one super-linear row of the r10 scale probe,
3.43× at 10×) — which is why the STANDING scan is q89b's MinHash
estimate (|sources|²·k, corpus-size-independent) and this exact form
is the verifier re-run on the pairs q89b flags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import shingle_hash, shingles, tokens
from .llm_queries import _SH5_SQL, _TOKS_SQL
from .registry import query, tables

_J_FMT = (
    "CAST(round((CAST({i} AS DOUBLE) / (CAST({na} AS DOUBLE) "
    "+ CAST({nb} AS DOUBLE) - CAST({i} AS DOUBLE))) * 1e6) AS BIGINT)"
)

# The md5-fold (VERDICT r10 #5, landed r12): the distinct/join key is the
# q47b 60-bit shingle_hash (15 md5 hex chars) instead of the ~25-byte
# shingle string — every exchange in the pair pipeline shrinks to 8-byte
# keys. Both engines compute the identical fold, so a (negligible,
# p ≈ n²/2⁶¹) collision is mirrored and cross-engine parity holds.
_SHKEY_SQL = "CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT)"

# ONE definition of the per-source distinct-shingle pipeline (tok → raw
# shingles → folded DISTINCT (source, key) sets → set sizes) behind
# q89's symmetric Jaccard.
_SRC_SHINGLE_CTES = (
    f"tok AS (SELECT source, {_TOKS_SQL} AS t FROM documents), "
    f"raw AS (SELECT source, unnest({_SH5_SQL}) AS sh FROM tok), "
    f"h AS (SELECT DISTINCT source, {_SHKEY_SQL} AS sh FROM raw), "
    "sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM h "
    "GROUP BY source)"
)


def source_shingle_sets(docs: DataFrame) -> DataFrame:
    """The Spark twin of ``_SRC_SHINGLE_CTES``'s ``h``: the DISTINCT
    (source, 60-bit folded shingle key) frame, folded BEFORE the
    distinct so the shuffle dedups (source, int64) pairs, cached for
    its multiple consumers (sizes + join sides — the q89 shape)."""
    return (
        docs.select(
            "source",
            F.explode(shingles(tokens(F.col("text")), 5)).alias("raw_sh"),
        )
        .select("source", shingle_hash(F.col("raw_sh")).alias("sh"))
        .distinct()
        .cache()
    )


_Q89_ORACLE = (
    f"WITH {_SRC_SHINGLE_CTES}, "
    "inter AS (SELECT a.source AS source_a, b.source AS source_b, "
    "CAST(count(*) AS BIGINT) AS n_shared FROM h a JOIN h b "
    "ON a.sh = b.sh AND a.source < b.source "
    "GROUP BY a.source, b.source) "
    "SELECT i.source_a, i.source_b, sa.n AS n_a, sb.n AS n_b, i.n_shared, "
    + _J_FMT.format(i="i.n_shared", na="sa.n", nb="sb.n")
    + " AS jaccard_e6 FROM inter i "
    "JOIN sizes sa ON sa.source = i.source_a "
    "JOIN sizes sb ON sb.source = i.source_b "
    "ORDER BY source_a, source_b"
)

_Q89_DESCRIPTION = (
    "Q89: EXACT pairwise source content overlap — the flagged-pair "
    "VERIFIER of the q89b MinHash estimate (run it on the pairs q89b "
    "flags, not as the standing full-corpus scan: the per-shingle pair "
    "fan-out grows with shared-shingle mass, the one super-linear row "
    "of the r10 probe — q89b at |sources|^2*k is the scale "
    "instrument). Jaccard of each source pair's DISTINCT 5-gram "
    "shingle sets (the q47d contract), keyed on the 60-bit md5 "
    "shingle_hash fold (VERDICT r10 #5: 8-byte join/distinct keys, "
    "identical fold both engines). r16 shape: ONE corpus-sized "
    "shuffle (groupBy(key) with map-side-combined collect_set — the "
    "set dedups, replacing the distinct+cache), collapsed to a "
    "<=2^|sources|-row source-set frame behind a localCheckpoint "
    "barrier; pair counts and set sizes are row-local expansions of "
    "that tiny frame. Documents never shuffle on a key. Absent pair "
    "= zero overlap. Counts exact; Jaccard one double division "
    "scaled to e6."
)


# The source-set collapse is data-dependent (VERDICT r16 #4): the
# checkpointed frame holds ≤ 2^|sources| rows whose pair expansion is
# |srcs|² in-row structs. At ≤ _SET_SHAPE_MAX_SOURCES both stay trivially
# bounded (≤ 2016 pairs/row at 64); with hundreds of sources the frame
# and the expansion blow up where the per-shingle join degrades smoothly
# — so q89 dispatches on a cheap distinct-source count (one
# column-pruned scan, early-stopped by the limit; the strategy pick a
# cost-based planner would make from a table statistic) and falls back
# to the pre-r16 sh-keyed join shape. Both shapes compute identical
# results (test_q89_set_and_join_shapes_agree, adversarial source count
# included).
_SET_SHAPE_MAX_SOURCES = 64


def _overlap_via_source_sets(spark: SparkSession, docs: DataFrame) -> DataFrame:
    # r16 (guide §2.4 remove shuffles / §2.3 aggregate before you
    # shuffle): the old shape was distinct→cache→self-join on sh — the
    # cached (source, sh) frame was hash-partitioned by BOTH columns, so
    # EACH join side re-exchanged it by sh (two more corpus-sized
    # shuffles) and the sort-merge self-join materialized the per-
    # shingle source×source fan-out as join rows. Same numbers, one
    # exchange: group the RAW exploded (source, 8-byte key) rows by key
    # with a map-side-combined collect_set (min/idempotent-style: the
    # set dedups, so the separate .distinct() pass is free), collapse
    # the corpus to one row per DISTINCT SOURCE SET (≤ 2^|sources| rows
    # after the map-side-combined count), and enumerate ordered pairs
    # ROW-LOCALLY from each set. n_shared(a,b) = Σ over sets containing
    # both of the set's shingle count — exactly |Sₐ ∩ S_b|; sizes fall
    # out of the same tiny frame. Documents still never shuffle, and the
    # worst-case pair fan-out is unchanged (it just no longer rides
    # through a join's sort machinery).
    # q95's two scan lessons apply verbatim (novelty.py r16): round-robin
    # the single-row-group test-scale scan to cluster width BEFORE the
    # tokenize-heavy projection (no-op at warehouse scale), and
    # explode_outer an ATTRIBUTE + isNotNull so InferFiltersFromGenerate
    # cannot push a size(tokenize-chain)>0 filter into the scan (shingle
    # elements are concat_ws products, never null — only the empty-array
    # placeholder rows drop, which is exactly inner-explode semantics).
    sh_arr = docs.select(
        "source", shingles(tokens(F.col("text")), 5).alias("shs")
    )
    sets = (
        sh_arr.select("source", F.explode_outer("shs").alias("raw_sh"))
        .where(F.col("raw_sh").isNotNull())
        .select("source", shingle_hash(F.col("raw_sh")).alias("sh"))
        .groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    )
    setc = sets.groupBy("srcs").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # setc is tiny (≤ 2^|sources| rows) but feeds TWO consumers (pair
    # counts + set sizes) — without a barrier each consumer re-ran the
    # whole corpus-sized shingle pipeline (2 full copies in the plan).
    # An eager localCheckpoint of the tiny frame runs it ONCE (the old
    # shape paid a corpus-sized .cache() for the same sharing).
    setc = setc.localCheckpoint(eager=True)
    sizes = (
        setc.select(F.explode("srcs").alias("source"), "cnt")
        .groupBy("source")
        .agg(F.sum("cnt").cast("long").alias("n"))
    )
    # ordered pairs (srcs[i], srcs[j]) with i < j, in-row: srcs is
    # sort_array'd, so a < b holds pairwise by construction
    pair_arr = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    inter = (
        setc.where(F.size("srcs") >= 2)
        .select(F.explode(pair_arr).alias("p"), "cnt")
        .groupBy(
            F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
        )
        .agg(F.sum("cnt").cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"),
                      F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b", "n_shared",
            F.expr(_J_FMT.format(i="n_shared", na="n_a", nb="n_b"))
            .alias("jaccard_e6"),
        )
        .orderBy("source_a", "source_b")
    )


def _overlap_via_shingle_join(docs: DataFrame) -> DataFrame:
    """The pre-r16 sh-keyed join shape — the documented fallback above
    _SET_SHAPE_MAX_SOURCES sources: per-shingle pair fan-out rides the
    join machinery and degrades smoothly with source count instead of
    collapsing to a source-set frame whose rows and in-row pair
    expansion grow with 2^|sources| and |srcs|²."""
    h = source_shingle_sets(docs)
    sizes = (
        h.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
        # |sources| rows, TWO consumers (sa and sb) — uncached, each
        # branch would re-aggregate the big shingle frame
        .cache()
    )
    a = h.select(F.col("source").alias("source_a"), "sh")
    b = h.select(F.col("source").alias("source_b"), "sh")
    inter = (
        a.join(b, on=[a.sh == b.sh, a.source_a < b.source_b])
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"),
                      F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b", "n_shared",
            F.expr(_J_FMT.format(i="n_shared", na="n_a", nb="n_b"))
            .alias("jaccard_e6"),
        )
        .orderBy("source_a", "source_b")
    )


@query("q89_source_overlap", oracle=_Q89_ORACLE,
       description=_Q89_DESCRIPTION, tags=("llm", "governance"))
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    # Strategy dispatch (see _SET_SHAPE_MAX_SOURCES): one column-pruned
    # distinct-count job over the raw scan, early-stopped by the limit —
    # never a corpus materialization on the driver.
    n_sources = (
        docs.select("source").distinct()
        .limit(_SET_SHAPE_MAX_SOURCES + 1).count()
    )
    # q95's pre-spread lesson applies to both shapes (novelty.py r16):
    # round-robin the single-row-group test-scale scan to cluster width
    # BEFORE the tokenize-heavy projection (no-op at warehouse scale).
    sc = spark.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    if n_sources <= _SET_SHAPE_MAX_SOURCES:
        return _overlap_via_source_sets(spark, docs)
    return _overlap_via_shingle_join(docs)
