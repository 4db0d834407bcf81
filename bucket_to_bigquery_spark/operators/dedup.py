"""Deduplication operators for LLM training-data pipelines (SURVEY §2.C
Q46-Q47; BASELINE north star).

Four methods, each with a different cost/recall point:

- **Exact** (`exact_dedup_groups`): sha256 over normalized text, hash
  group-by. One shuffle on a 32-byte key; the canonical first pass at any
  scale.
- **n-gram Jaccard** (`ngram_jaccard_pairs`): exact set similarity via an
  inverted shingle index — pairs are generated ONLY for docs sharing a
  shingle (never all-pairs), with a document-frequency cap dropping
  ubiquitous shingles so no hot key explodes the self-join.
- **Containment** (`ngram_containment_pairs`): one-sided overlap
  ``|A∩B| / min(|A|,|B|)`` over the same machinery — the subset-duplicate
  gate symmetric Jaccard misses.
- **SimHash** (`simhash_col`): a per-doc fingerprint whose Hamming
  distance approximates cosine/token overlap; computed entirely with
  JVM-side higher-order functions from md5 token hashes (md5 chosen
  because every engine agrees on it — the DuckDB oracle reproduces the
  exact fingerprint).
- **MinHash LSH** (`minhash_candidate_pairs`): explicit banded MinHash —
  closed-form mod-p signatures as row-local projections, candidates from
  one (band, signature) bucket equi-join (sub-quadratic, never a cross
  join), exact-Jaccard verification. Deterministic end-to-end, so the
  DuckDB oracle hash-verifies the full result.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# The near-dup operating point. The operator defaults, every engine call
# site and the DuckDB oracle fragments (queries/llm_queries.py and the
# modules that import them) read these constants instead of restating
# the literals.
NGRAM_N = 3                  # word n-gram of the near-dup shingles
JACCARD_THRESHOLD = 0.6      # ngram_jaccard_pairs keeps Jaccard >= this
MAX_SHINGLE_DF = 100         # shingles in more docs than this are dropped
CONTAINMENT_THRESHOLD = 0.9  # ngram_containment_pairs keeps >= this
MINHASH_MAX_DISTANCE = 0.4   # minhash_candidate_pairs keeps distance <= this
DECONTAM_N = 5               # word n-gram of decontamination and overlap
SIMHASH_BITS = 32            # simhash_col width (token_hash is 32-bit)

# ---------------------------------------------------------------------------
# Normalization + shingling (shared by every method)
# ---------------------------------------------------------------------------


def normalize_text(col) -> Column:
    """Whitespace-collapse → trim → lower, all JVM-side (no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def tokens(col) -> Column:
    return F.split(normalize_text(col), " ")


def shingles(tokens_col: Column, n: int = NGRAM_N) -> Column:
    """Word n-gram shingles as strings; empty array when len(tokens) < n."""
    return F.when(
        F.size(tokens_col) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(tokens_col) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens_col, i, n)),
        )
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_key(col) -> Column:
    """The exact-dedup key: sha256 of the normalized text. Two documents
    are exact duplicates iff their keys match, so any per-document
    function of ``normalize_text`` is constant within a duplicate group."""
    return F.sha2(normalize_text(col), 256)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-group exact duplicates: → (text_hash, n_copies, keep_id).

    ``keep_id = min(id)`` is the deterministic survivor rule. One hash
    shuffle on :func:`exact_dedup_key`; survivors come from a semi-join of
    the input against this frame (never a window over raw text).
    """
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            exact_dedup_key(text_col).alias("text_hash"),
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted shingle index
# ---------------------------------------------------------------------------


def _inverted_index_common(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate machinery for the exact set-overlap dedup family:
    returns ``(common, sizes)`` — per-pair common-shingle counts from an
    inverted-index self-join, and per-doc set sizes, both over the
    document-frequency-capped shingle universe (see
    :func:`ngram_jaccard_pairs` for why the cap is semantics, not a
    shortcut)."""
    toks = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    sh = (
        # hash inside the array, before the explode: every downstream
        # exchange (hot-count, self-join) moves 8-byte longs. Dedup to
        # shingle SETS with array_distinct INSIDE the row — a per-doc
        # local dedup needs no cross-row guarantee, so the global
        # `.distinct()` shuffle it replaces was pure waste.
        toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(shingles(F.col("t"), n), shingle_hash)
                )
            ).alias("shingle"),
        )
        # the tokenize→shingle→md5 pipeline feeds FOUR consumers (hot
        # counts, sizes, both self-join sides). One explicit shuffle on
        # the self-join key turns all of them into ReusedExchange reads:
        # the expensive text work runs ONCE, lands shuffle-local
        # partitioned by shingle, and the self-join needs no further
        # exchange. (A .persist() here measured strictly worse: it
        # replaces compact shuffle files with deserialized row caching.)
        # The partition count is pinned to the cluster's core count:
        # without it AQE coalesces this small-but-CPU-hot exchange to ~3
        # partitions at sf0.1 and the whole downstream family (hot count,
        # sizes, self-join) runs at 3-way parallelism on a 32-core host.
        # An explicit count on repartition() is exempt from AQE coalescing
        # by contract; at real scale defaultParallelism = total executor
        # cores, exactly the width this exchange should fan to.
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "shingle"
        )
    )
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .where(F.col("df_count") > max_shingle_df)
        .select("shingle")
    )
    # the hot list is boilerplate-sized (shingles in >max_df docs), orders
    # of magnitude smaller than the index: broadcast it so the anti-join
    # never shuffles the index rows
    idx = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # sizes over the SAME filtered universe as the join numerator: the
    # result is exact Jaccard over non-hot shingles. Counting all shingles
    # here while the numerator skips hot ones would systematically
    # underestimate similarity for pairs sharing boilerplate.
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    a = idx.select(F.col("shingle"), F.col("doc_id").alias("id_a"))
    b = idx.select(F.col("shingle"), F.col("doc_id").alias("id_b"))
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return common, sizes


def _join_sizes(common: DataFrame, sizes: DataFrame) -> DataFrame:
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return common.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = NGRAM_N,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """All pairs with Jaccard(shingle sets) >= threshold — exact Jaccard
    over the document-frequency-filtered shingle universe: shingles in more
    than ``max_shingle_df`` docs are excluded from BOTH the intersection
    and the set sizes, so within that universe the score is exact, and
    pairs whose overlap is purely hot/boilerplate shingles are out of
    scope by construction (a recall trade-off, deliberate: at 100 TB those
    pairs are boilerplate matches, not near-duplicates).

    Plan shape (scale-first):
    1. explode DISTINCT shingles per doc → inverted index (shingle, doc);
    2. drop shingles present in > ``max_shingle_df`` docs — a boilerplate
       shingle shared by k docs would emit k² pairs, so the cap bounds the
       per-key join fan-out (AQE skew-join splits whatever remains);
    3. self-join the index on shingle with ``id_a < id_b`` → common counts
       (map-side combine: groupBy before the jaccard math);
    4. jaccard from exact integer set sizes.
    """
    common, sizes = _inverted_index_common(df, id_col, text_col, n, max_shingle_df)
    return (
        _join_sizes(common, sizes)
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = NGRAM_N,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_shingle_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """All pairs with containment ``|A∩B| / min(|A|,|B|)`` >= threshold —
    one-sided overlap over the same DF-capped shingle universe as
    :func:`ngram_jaccard_pairs`.

    Containment catches SUBSET duplicates symmetric Jaccard misses: a doc
    quoted or embedded whole inside a much longer one scores
    ``|A|/|A| = 1.0`` here but ``|A|/|B| ≪ 1`` on Jaccard — the standard
    second dedup gate in a training-data pipeline (quote/boilerplate
    inclusion). Same candidate machinery and cost as the Jaccard pass;
    only the scoring projection differs.
    """
    common, sizes = _inverted_index_common(df, id_col, text_col, n, max_shingle_df)
    return (
        _join_sizes(common, sizes)
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / F.least(F.col("n_a"), F.col("n_b"))
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash fingerprint (cross-engine exact: md5-derived token hashes)
# ---------------------------------------------------------------------------


def token_hash(tok: Column) -> Column:
    """32-bit token hash from the md5 hex prefix — identical in any engine
    that has md5 (the DuckDB oracle mirrors this literally)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def shingle_hash(shingle: Column) -> Column:
    """60-bit shingle hash (15 md5 hex chars) — wide enough that collisions
    are negligible (p ≈ n²/2⁶¹), narrow enough to stay a positive int64.
    Shuffling/joining the inverted index on an 8-byte long instead of a
    ~25-byte shingle string shrinks every exchange in the pair pipeline;
    both engines compute the identical hash, so even a collision would be
    mirrored and cross-engine parity is unaffected."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")


def simhash_col(tokens_col: Column) -> Column:
    """``SIMHASH_BITS``-bit SimHash over DISTINCT tokens: bit j of the
    fingerprint is set iff Σ_tokens (±1 by bit j of md5-prefix
    token_hash) > 0; ties (0) clear the bit. Arrow-batched since r15:
    the previous Catalyst HOF fold (aggregate + zip_with carrying one
    vote counter per bit) never enters codegen — HOF lambdas evaluate
    interpreted, allocating a bits-wide accumulator per token (isolated
    3-rep at sf0.1: 2.2 s HOF vs 0.7 s Arrow for the q46b projection,
    bit-identical results). The pandas_udf
    computes the same md5-prefix hashes (per-batch token→hash cache —
    Zipf reuse makes the cache hit rate high) and the majority vote as
    one numpy pass per Arrow batch; row-local, so it composes under any
    partitioning, and the DuckDB oracle (llm_queries._SIMHASH_SQL) is
    unchanged. The width is the module constant (token_hash is 32-bit;
    the widening seam documented in queries/hamming.py pairs 64 bits
    with a wider token hash)."""

    @pandas_udf("long")
    def _simhash(tok_lists: pd.Series) -> pd.Series:
        cache: dict = {}
        jrange = np.arange(SIMHASH_BITS, dtype=np.int64)
        out = []
        for toks in tok_lists:
            if toks is None:
                out.append(None)
                continue
            hs = []
            for t in dict.fromkeys(toks):  # distinct; order irrelevant to the vote
                h = cache.get(t)
                if h is None:
                    h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                    cache[t] = h
                hs.append(h)
            a = np.asarray(hs, dtype=np.int64)
            votes = (((a[:, None] >> jrange) & 1) * 2 - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.int64) << jrange).sum()))
        return pd.Series(out, dtype="Int64")

    return _simhash(tokens_col)


# base and modulus of rolling_fingerprint; q49d's oracle embeds both
ROLLING_BASE = 31
ROLLING_MOD = (1 << 31) - 1


def rolling_fingerprint(tokens_col: Column) -> Column:
    """Order-sensitive polynomial rolling hash over the token sequence:
    ``fold(acc*ROLLING_BASE + token_hash mod ROLLING_MOD)`` — the document
    fingerprint for shift-detection (unlike SimHash it changes when order
    changes)."""
    return F.aggregate(
        F.transform(tokens_col, token_hash),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * ROLLING_BASE + h) % ROLLING_MOD,
    )


# ---------------------------------------------------------------------------
# MinHash LSH (the sub-quadratic near-dup scale path)
# ---------------------------------------------------------------------------

# Mersenne prime 2^31-1: universal-hash modulus. Inputs are first reduced
# mod p (< 2^31) so a*h+b stays under 2^62 — no int64 overflow in either
# engine, which is what makes the DuckDB oracle bit-exact.
MINHASH_PRIME = (1 << 31) - 1
# band count and coefficient seed of minhash_candidate_pairs; q47b's
# oracle embeds the same minhash_params()
MINHASH_BANDS = 6
MINHASH_SEED = 42


def minhash_params() -> list[tuple[int, int]]:
    """The (a, b) coefficients of the ``MINHASH_BANDS`` universal hash
    functions ``h_i(x) = (a_i·x + b_i) mod p`` — generated from a PRNG
    seeded with ``MINHASH_SEED`` so the Spark expressions and the DuckDB
    oracle embed the SAME literals (single source of truth for
    cross-engine parity)."""
    import random

    rng = random.Random(MINHASH_SEED)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(MINHASH_BANDS)
    ]


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Near-dup pairs via explicit banded MinHash + exact Jaccard verify,
    over ``NGRAM_N``-gram shingles.

    Per doc: the distinct 60-bit shingle hashes (one row-local projection —
    no fit stage, nothing to persist); per hash function i, the signature
    ``min_x (a_i·x + b_i) mod p`` — an ``array_min`` over the shingle
    array, still row-local. Candidates are pairs sharing ANY (band,
    signature) bucket — one equi-join on an 8-byte composite key, never a
    cross join — then EXACT Jaccard over the hashed shingle sets
    (``array_intersect``, row-local on the joined arrays) decides
    membership: output = candidate pairs with
    jaccard_dist <= ``MINHASH_MAX_DISTANCE``.

    vs pyspark.ml's MinHashLSH (the r4 implementation): same banded-bucket
    asymptotics, but deterministic closed-form hashing (the "fit" of
    MinHashLSH only samples coefficients — state a literal can carry),
    no HashingTF collision layer (Jaccard is exact over the real shingle
    sets, not 2^16 hashed features), one pass over the corpus instead of
    fit + transform + self-join re-reads, and a transparent plan (three
    shuffles: band bucket join, two verify joins on doc id). Deterministic
    end-to-end ⇒ the DuckDB oracle hash-verifies the full result — the
    r4 version was rows-only-checkable.

    Scale (100 TB): bucket sizes are bounded by true near-dup group sizes
    (k identical docs legitimately emit k² candidate pairs — that IS the
    answer); AQE skew-join splits any residual hot bucket. Returns
    (id_a, id_b, jaccard_dist) with id_a < id_b.

    Cache contract (ADVICE r15 #2): the per-doc shingle-set feature frame
    is ``persist()``-ed inside the returned plan (three consumers on
    three different keys; a BroadcastExchange re-executes its subtree —
    the r15 measured fix, 6.6 → 1.7 s isolated at sf0.1) and is NOT
    unpersisted here — it must stay alive for the lazy result to be
    consumed any number of times. Spark's CacheManager holds the entry
    until an explicit sweep, so a long-lived session calling this
    repeatedly must clear consumed entries itself
    (``spark.catalog.clearCache()`` or an explicit sweep between calls —
    bench.py's ``_sweep_state`` is the in-repo example). MEMORY_AND_DISK
    means an unswept entry degrades to disk spill, not an OOM.
    """
    p, n = MINHASH_PRIME, NGRAM_N
    feats = (
        # The emptiness filter runs BEFORE the signature projection, as a
        # predicate on the token count alone: ``sh`` is non-empty iff the
        # doc has >= n tokens, and filtering on ``size(sh) > 0`` instead
        # measured 0.1 -> 3.9 s on the projection at sf0.1 — predicate
        # pushdown clones the whole tokenize->shingle->md5 expression
        # into the scan filter, where the higher-order lambdas evaluate
        # interpreted per row. Same rows, two orders of magnitude less
        # filter work.
        df.where(F.size(tokens(text_col)) >= n)
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
        .select(
            "doc_id",
            # distinct AFTER the mod-p reduction: two 60-bit hashes can
            # collide mod p, and the oracle's DISTINCT-over-reduced-values
            # must see the same set sizes
            F.array_distinct(
                F.transform(shingles(F.col("t"), n), lambda s: shingle_hash(s) % p)
            ).alias("sh"),
        )
        # three consumers (band-signature explode + both verify sides):
        # repartition + persist so the expensive tokenize→shingle→md5
        # projection runs ONCE. Unlike ngram_jaccard_pairs (where every
        # consumer reads one shuffle exchange on the self-join key and
        # ReusedExchange alone suffices), the consumers HERE need three
        # different keys — (band, sig) for the bucket join, id_a/id_b for
        # the verify sides — and Spark broadcasts the verify sides, and a
        # BroadcastExchange re-executes its whole subtree rather than
        # reading the shuffle exchange. Measured at sf0.1 (r15, isolated
        # 3-rep): repartition-only 6.6 s (the projection materializes 4×),
        # +persist 1.7 s. MEMORY_AND_DISK default: at warehouse scale the
        # per-doc shingle-set frame spills instead of OOMing, and either
        # way beats recomputing the text pipeline four times.
        .repartition("doc_id")
        .persist()
    )
    sigs = feats.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.array_min(
                            F.transform(F.col("sh"), lambda h: (h * a + b) % p)
                        ).alias("sig"),
                    )
                    for i, (a, b) in enumerate(minhash_params())
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")
    cand = (
        sigs.alias("x")
        .join(sigs.alias("y"), ["band", "sig"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    fa = feats.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"),
                      F.size("sh").alias("n_a"))
    fb = feats.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"),
                      F.size("sh").alias("n_b"))
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.lit(1.0)
                - n_common.cast("double")
                / (F.col("n_a") + F.col("n_b") - n_common)
            ).alias("jaccard_dist"),
        )
        .where(F.col("jaccard_dist") <= MINHASH_MAX_DISTANCE)
    )
