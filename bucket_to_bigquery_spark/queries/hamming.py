"""q115: SimHash near-duplicate
adjacency between DISTINCT fingerprint clusters. q46b computes the
32-bit fingerprint; q116 reports the hamming-0 (identical-fingerprint)
clusters; this entry completes the simhash dedup path with the
cross-cluster edges: pairs of distinct fingerprints at hamming 1–3,
found by banding each fingerprint into four 8-bit bands and joining on
(band_idx, band_value) (two fingerprints at hamming ≤ 3 agree on at
least one whole band — pigeonhole), then verified with the exact
integer hamming distance. Each edge carries both clusters'
representatives (min doc_id), sizes, and the implied doc-pair mass
sz_a·sz_b — the near-dup pair VOLUME is reported as a count, never
materialized as rows.

Why cluster granularity (measured at sf0.01/sf0.1): at doc granularity the
corpus' hamming-0 cliques (sizes up to ~40) made both the banded join
and the output quadratic — 15k pairs at sf0.01 became 1.57M at sf0.1
(8.6× wall at 10× data). Collapsing identical fingerprints FIRST
turns each clique into one node: the join input drops from |docs| to
|distinct fingerprints| and the output to the true adjacency
(3,075 edges at sf0.01 / 58,212 at sf0.1).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism: the fingerprint is the q46b contract exactly
(operators/dedup.simhash_col over md5 token hashes — ONE definition,
llm_queries' SQL twins reused verbatim per the r9 one-tokenizer
review); banding and hamming are integer bit ops (shift/mask/xor/
bit_count) — bit-identical across engines; representatives are exact
min doc_ids; edges dedup on (rep_a < rep_b) and order on the unique
(rep_a, rep_b) key.

Scale design (100 TB): NEVER all-pairs — candidates come from ONE
4·F-row explode (F = |distinct fingerprints| ≤ |docs|, post-collapse)
+ equi-join on (band_idx, band_value), the q47b banded-LSH shape; the
exact-hamming verify touches only candidate pairs; 8-byte
fingerprints + 3 BIGINTs shuffle, documents never do. Honest bound:
each 8-bit band partitions F fingerprints over 256 values, so
candidate volume grows ~F²/1024 once F ≫ 256 — the 32-bit fingerprint
is the q46b compatibility contract, and the documented widening seam
(64-bit dedup.SIMHASH_BITS + 16-bit bands, domain 65,536) restores
sparse buckets at warehouse scale without touching this plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import SIMHASH_BITS, simhash_col, tokens
from .llm_queries import _SIMHASH_SQL, _TOKHASH_SQL, _TOKS_SQL
from .registry import query, tables

_N_BANDS = 4
_BAND_BITS = 8
_MAX_HAMMING = 3

# The recall guarantee is pigeonhole over these couplings — make them
# self-checking so the documented widening seam (64-bit fingerprint,
# 16-bit bands) cannot be followed halfway without a loud failure:
# ≤ _MAX_HAMMING differing bits must be unable to touch every band,
# and the bands must tile the whole fingerprint.
assert _MAX_HAMMING <= _N_BANDS - 1, "banding misses true pairs"
assert _N_BANDS * _BAND_BITS == SIMHASH_BITS, "bands must tile the fingerprint"

# q46b's fingerprint SQL: the token/normalize twins AND the 32-bit fold
# are IMPORTED from llm_queries (one definition each); the q46b oracle
# interpolates the same _SIMHASH_SQL object.

_Q115_ORACLE = (
    "WITH t AS (SELECT doc_id, "
    f"list_transform(list_distinct({_TOKS_SQL}), t -> "
    + _TOKHASH_SQL.format(t="t")
    + ") AS hs FROM documents), "
    f"f AS (SELECT doc_id, {_SIMHASH_SQL} AS sh FROM t), "
    "cl AS (SELECT sh, CAST(min(doc_id) AS BIGINT) AS rep, "
    "CAST(count(*) AS BIGINT) AS sz FROM f GROUP BY sh), "
    "b AS (SELECT sh, rep, sz, i AS band_idx, "
    f"(sh >> (i * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1} AS band_val "
    f"FROM cl CROSS JOIN range(0, {_N_BANDS}) r(i)), "
    "cand AS (SELECT DISTINCT x.rep AS rep_a, y.rep AS rep_b, "
    "x.sh AS sh_a, y.sh AS sh_b, x.sz AS n_docs_a, y.sz AS n_docs_b "
    "FROM b x JOIN b y ON x.band_idx = y.band_idx "
    "AND x.band_val = y.band_val AND x.rep < y.rep) "
    "SELECT rep_a, rep_b, "
    "CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming, "
    "n_docs_a, n_docs_b, "
    "CAST(n_docs_a * n_docs_b AS BIGINT) AS n_doc_pairs "
    f"FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {_MAX_HAMMING} "
    "ORDER BY rep_a, rep_b"
)

_Q115_DESCRIPTION = (
    "Q115: SimHash near-dup adjacency between DISTINCT fingerprint "
    "clusters — the q46b 32-bit fingerprint collapsed to clusters "
    "(min-doc_id representative + size), banded into four 8-bit bands; "
    "edges from ONE (band_idx, band_value) equi-join (hamming <= 3 "
    "guarantees a whole band agrees — pigeonhole), exact integer "
    "hamming verify, doc-pair mass sz_a*sz_b reported as a count, "
    "never as rows. Never all-pairs: a 4F-row explode + banded join "
    "over distinct fingerprints (the hamming-0 cliques that made the "
    "doc-granularity probe quadratic are single nodes here); 8-byte "
    "fingerprints shuffle, documents never do. All-integer bit ops — "
    "bit-identical cross-engine."
)


def cluster_frame(docs: DataFrame) -> DataFrame:
    """Distinct-fingerprint clusters (sh, rep, sz) under the exact q46b
    contract — the hamming-0 cliques become single nodes. Shared by
    q115 and neardup_cc's q132/q133 (ONE fold definition; callers
    cache it when they consume it more than once)."""
    return (
        docs.select(
            "doc_id", simhash_col(tokens("text")).alias("sh")
        )
        .groupBy("sh")
        .agg(
            F.min("doc_id").cast("long").alias("rep"),
            F.count(F.lit(1)).cast("long").alias("sz"),
        )
    )


def adjacency(cl: DataFrame) -> DataFrame:
    """Hamming ≤ _MAX_HAMMING edges between distinct-fingerprint
    clusters from a (sh, rep, sz) frame: the banded equi-join +
    exact-hamming verify. Returns the UNORDERED edge frame
    (rep_a < rep_b, sizes, doc-pair mass) — q115 orders it; q132/q133
    feed it to connected components as-is."""
    mask = (1 << _BAND_BITS) - 1
    # literal shift amounts per band (Spark's shift builtins take int
    # literals — the q46b lesson), assembled as one explode of a
    # 4-struct array: 4F rows, no per-band re-scan
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band_idx"),
            F.shiftright(F.col("sh"), i * _BAND_BITS)
            .bitwiseAND(F.lit(mask)).alias("band_val"),
        )
        for i in range(_N_BANDS)
    ])
    b = (
        cl.select("sh", "rep", "sz", F.explode(bands).alias("bv"))
        .select("sh", "rep", "sz",
                F.col("bv.band_idx").alias("band_idx"),
                F.col("bv.band_val").alias("band_val"))
        .cache()  # both self-join sides read it: uncached, each side
        #           replays the corpus simhash fold (q80 lesson)
    )
    left = b.select(
        F.col("rep").alias("rep_a"), F.col("sh").alias("sh_a"),
        F.col("sz").alias("n_docs_a"), "band_idx", "band_val",
    )
    right = b.select(
        F.col("rep").alias("rep_b"), F.col("sh").alias("sh_b"),
        F.col("sz").alias("n_docs_b"), "band_idx", "band_val",
    )
    hamming = F.bit_count(
        F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    ).cast("long")
    # r16 optimization (guide §2.3, shuffle fewer bytes): verify the
    # exact hamming distance BEFORE the dropDuplicates exchange. The
    # distance is a pure function of the pair (rep ↔ sh is 1:1), so
    # filter-then-dedup ≡ dedup-then-filter — but the banded candidate
    # fan-out is ~F²/1024 rows while the true adjacency is ~40× smaller
    # at sf0.1, and every dropped row previously crossed the dedup
    # exchange with both fingerprints and sizes aboard.
    return (
        left.join(right, ["band_idx", "band_val"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= _MAX_HAMMING)
        .select("rep_a", "rep_b", "hamming", "n_docs_a", "n_docs_b")
        .dropDuplicates(["rep_a", "rep_b"])
        .select(
            "rep_a", "rep_b", "hamming", "n_docs_a", "n_docs_b",
            (F.col("n_docs_a") * F.col("n_docs_b")).cast("long")
            .alias("n_doc_pairs"),
        )
    )


@query("q115_simhash_hamming_pairs", oracle=_Q115_ORACLE,
       description=_Q115_DESCRIPTION, tags=("llm", "dedup"))
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    return adjacency(cluster_frame(docs)).orderBy("rep_a", "rep_b")


__all__ = ["q115", "cluster_frame", "adjacency"]
