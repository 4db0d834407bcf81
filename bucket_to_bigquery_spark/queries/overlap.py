"""q89: EXACT pairwise source content overlap — the FLAGGED-PAIR
VERIFIER of the q89b MinHash estimate (sketch_overlap.py): q89b's
|sources|²·k sketch comparison is the standing full-corpus scan; this
exact form re-runs on the pairs it flags. For every source pair, the
Jaccard overlap of their distinct 5-gram shingle sets (the
ingest-governance number behind "these two crawls are 30 % the same
content": run before paying to deduplicate, after adding a feed, and
when pruning redundant sources; shingle-level overlap catches shared
content that exact-hash overlap misses — this synthetic corpus, like
most real pairs of feeds, has nearly zero cross-source EXACT duplicates
while sharing plenty of phrasing).

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension, registered r10). Shingling is
the q47-family contract — ``operators.dedup.shingles(tokens,
DECONTAM_N)`` on the Spark side and ``llm_queries._DECONTAM_SH_SQL`` in
the oracle, the same shared definition q47d's decontamination gate keys
on.

    J(a,b) = |Sₐ ∩ S_b| / (|Sₐ| + |S_b| − |Sₐ ∩ S_b|)

over each source's DISTINCT shingle set. Only pairs with a non-empty
intersection appear (absent pair = 0 overlap, documented). Counts
exact; J is one double division scaled to round(x·1e6).

Shape: a co-occurrence count (``operators.pairs``) with shingles as the
groups and sources as the items. The exploded (source, 8-byte key)
rows group by key with a map-side-combined collect_set (the set
dedups), and the corpus collapses to one row per DISTINCT SOURCE SET
behind an eager checkpoint; n_shared(a,b) is the pair count and each
source's set size the item count of that frame. Documents never
shuffle on a key — only 8-byte md5-folded shingle KEYS move (the q47b
shingle_hash fold, identical in both engines). The frame holds at most
2^|sources| rows and each row expands |set|² pairs in-row, which stays
small at the tens of sources a governance run compares.

Cost note: on a corpus where most shingles are common to most sources
(this synthetic vocabulary; or real feeds syndicating one wire), the
per-shingle fan-out approaches |sources|² on every shingle and EXACT
overlap gets hot — which is why the STANDING scan is q89b's MinHash
estimate (|sources|²·k, corpus-size-independent) and this exact form
is the verifier re-run on the pairs q89b flags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import DECONTAM_N, shingle_hash, shingles, tokens
from ..operators.materialize import checkpoint
from ..operators.pairs import item_counts, item_sets, pair_counts
from ..operators.similarity import _spread_small_input
from .llm_queries import _DECONTAM_SH_SQL, _TOKS_SQL
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

# The oracle's per-source distinct-shingle pipeline (tok → raw shingles
# → folded DISTINCT (source, key) sets → set sizes).
_SRC_SHINGLE_CTES = (
    f"tok AS (SELECT source, {_TOKS_SQL} AS t FROM documents), "
    f"raw AS (SELECT source, unnest({_DECONTAM_SH_SQL}) AS sh FROM tok), "
    f"h AS (SELECT DISTINCT source, {_SHKEY_SQL} AS sh FROM raw), "
    "sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM h "
    "GROUP BY source)"
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


@query("q89_source_overlap", oracle=_Q89_ORACLE,
       description=_Q89_DESCRIPTION, tags=("llm", "governance"))
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q95's two scan lessons apply verbatim (novelty.py): round-robin the
    # single-row-group test-scale scan to cluster width BEFORE the
    # tokenize-heavy projection (no-op at warehouse scale), and
    # explode_outer an ATTRIBUTE + isNotNull so InferFiltersFromGenerate
    # cannot push a size(tokenize-chain)>0 filter into the scan (shingle
    # elements are concat_ws products, never null — only the empty-array
    # placeholder rows drop, which is exactly inner-explode semantics).
    docs = _spread_small_input(tables(spark, sf_dir)["documents"])
    sh_arr = docs.select(
        "source", shingles(tokens(F.col("text")), DECONTAM_N).alias("shs")
    )
    keyed = (
        sh_arr.select("source", F.explode_outer("shs").alias("raw_sh"))
        .where(F.col("raw_sh").isNotNull())
        .select("source", shingle_hash(F.col("raw_sh")).alias("sh"))
    )
    # the set frame feeds two consumers (pair counts and set sizes); the
    # eager checkpoint runs the corpus-sized shingle pipeline once. The
    # returned plan reads it lazily, so its blocks are left to the
    # session sweep.
    sets, _ = checkpoint(item_sets(keyed, "sh", "source"))
    sizes = item_counts(sets)
    sa = sizes.select(F.col("item").alias("source_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("item").alias("source_b"),
                      F.col("n").alias("n_b"))
    return (
        pair_counts(sets)
        .select(F.col("item_a").alias("source_a"),
                F.col("item_b").alias("source_b"),
                F.col("n_ab").alias("n_shared"))
        .join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b", "n_shared",
            F.expr(_J_FMT.format(i="n_shared", na="n_a", nb="n_b"))
            .alias("jaccard_e6"),
        )
        .orderBy("source_a", "source_b")
    )
