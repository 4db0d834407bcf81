"""Substring-level exact dedup: repeated token-window span detection.

Fills the substring granularity of the dedup family (document-level:
``dedup.exact_dedup_groups``; set-level: ``dedup.ngram_jaccard_pairs``;
byte-chunk-level: ``multimodal.cdc_chunks``): find, per document, the
maximal token spans whose content also occurs in other documents.
Published motivation: substring duplication is the dominant duplication
mode in web corpora, and removing it measurably improves language models
(Lee et al., "Deduplicating Training Data Makes Language Models Better",
ACL 2022 — ExactSubstr). Their suffix array is a single-machine
construct; the Spark-native shape here is a windowed-hash inverted
index — one hash shuffle of 8-byte keys plus a per-document
gaps-and-islands pass — which distributes without a global order.

Cross-engine determinism (the repo-wide discipline): window hashes are
60-bit md5 hex prefixes (``dedup.shingle_hash``), span math is pure
integer, and the one emitted ratio is a single double division of two
exact integers — bit-identical in any engine with md5.

Scale shape (100 TB): the window index has ~n_tokens rows per document —
the SAME cardinality as the q47 shingle index already audited at this
scale — hash-shuffled on the 8-byte window hash for the
document-frequency count. The join back to positions is per-position
bounded (each position carries exactly one hash), so output stays LINEAR
in corpus size; there is no pair fan-out anywhere, which is what makes
substring dedup cheaper than pair mining. Span merging is a window
function partitioned by doc_id — embarrassingly parallel, no skew
(per-doc group size = token count).

Reference parity: the reference (buzzware/bucket-to-bigquery) has no
analytics surface; this extends the declared engine surface (SURVEY §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import shingle_hash, tokens

# The scrub operating point: windows of SCRUB_WINDOW tokens whose content
# occurs in at least SCRUB_MIN_DOC_FREQ distinct documents. q51/q53/q54,
# `run pipeline` and the span oracle (queries/pipeline_queries.span_ctes)
# read these constants.
SCRUB_WINDOW = 8  # docs are 10-99 tokens at every SF
SCRUB_MIN_DOC_FREQ = 2


def repeated_substring_ranges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = SCRUB_WINDOW,
    min_doc_freq: int = SCRUB_MIN_DOC_FREQ,
) -> DataFrame:
    """Maximal duplicated token spans per document, as 1-based ranges.

    A position ``p`` (1-based) in a document is *duplicated* when the
    ``window``-token sequence starting there occurs in at least
    ``min_doc_freq`` distinct documents. Overlapping/adjacent duplicated
    windows merge into maximal spans (gaps-and-islands); spans from
    distinct islands are disjoint by construction (a new island needs a
    start gap > window). Returns one row per span::

        (doc_id, n_tokens, span_start, span_end, span_tokens)

    with ``span_end`` inclusive. Documents shorter than ``window``
    tokens are skipped (they carry no window).
    """
    sc = df.sparkSession.sparkContext
    toks = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    # One row per window position; the hash is computed INSIDE the array
    # before the explode so every downstream exchange moves 8-byte longs
    # (the q47 inverted-index discipline). posexplode is 0-based → +1 to
    # the 1-based positions the oracle's range(1, …) produces.
    #
    # The shorter-than-window guard is the WHEN below, not a .where() on
    # size(t): a filter over the token projection gets pushed into the
    # parquet scan with the tokenize chain substituted, so every input
    # row paid size(split(...)) at the scan AND split(...) again in the
    # projection (the q95 pushed-HOF-filter disease, its non-Generate
    # form). posexplode_outer turns the guard's NULL array into one
    # (NULL, NULL) row, dropped by the whash filter — whash is never
    # NULL otherwise (md5 of concat_ws), so inner semantics are exact —
    # and an OUTER Generate also blocks InferFiltersFromGenerate from
    # synthesizing a pushable size(chain)>0 filter.
    wins = (
        toks.select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            F.posexplode_outer(
                F.when(
                    F.size("t") >= window,
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - (window - 1)),
                        lambda i: shingle_hash(
                            F.concat_ws(" ", F.slice(F.col("t"), i, window))
                        ),
                    ),
                )
            ).alias("pos0", "whash"),
        )
        .where(F.col("whash").isNotNull())
        .select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "whash")
        # Explicit width pin: without it the window/md5 compute runs at
        # input-split parallelism (~4 tasks at sf0.1) and everything
        # downstream inherits that; pinning to defaultParallelism
        # measured 2.0 s vs 4.5 s median at sf0.1 (same rationale as
        # dedup._inverted_index_common). Catalyst's column/generator
        # pruning gives each consumer its own copy of this subtree — the
        # frequency branch below is pruned to a slim (doc_id, whash)
        # explode with no pos/n_tokens, so the second pass is the cheap
        # one; a persist() here would trade that for row-cache memory
        # across the full-width frame (measured worse for the analogous
        # q47 exchange).
        .repartition(sc.defaultParallelism, "whash")
    )
    dup = (
        # Distinct-doc frequency per window content: planned as the
        # two-phase (whash, doc_id) -> (whash) aggregate stack directly
        # on the repartition exchange (no further shuffle — hash(whash)
        # satisfies both groupings), with map-side partial dedup bounding
        # hot boilerplate keys. The filtered dup set is duplicated-
        # CONTENT-sized, so it broadcasts; at corpus scales where it no
        # longer fits, AQE falls back to a shuffle join whose skew
        # handling splits hot window contents.
        wins.groupBy("whash")
        .agg(F.count_distinct("doc_id").alias("df_docs"))
        .where(F.col("df_docs") >= min_doc_freq)
        .select("whash")
    )
    marked = wins.join(dup, "whash").select("doc_id", "n_tokens", "pos")

    # Gaps-and-islands span merge: windows starting at p1 < p2 cover a
    # contiguous token run iff p2 <= p1 + window (adjacency included), so
    # a new island starts when the gap exceeds `window`. First row per
    # doc: lag is NULL → comparison NULL → otherwise(0), island 0.
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    brk = marked.select(
        "doc_id", "n_tokens", "pos",
        F.when(F.col("pos") > F.lag("pos").over(w_ord) + window, F.lit(1))
        .otherwise(F.lit(0))
        .alias("b"),
    )
    isl = brk.select(
        "doc_id", "n_tokens", "pos",
        F.sum("b").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("island"),
    )
    return isl.groupBy("doc_id", "n_tokens", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (window - 1)).alias("span_end"),
        (F.max("pos") - F.min("pos") + window).alias("span_tokens"),
    ).drop("island")


def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = SCRUB_WINDOW,
    min_doc_freq: int = SCRUB_MIN_DOC_FREQ,
) -> DataFrame:
    """Per-document rollup of :func:`repeated_substring_ranges`.

    Returns one row per document that has at least one span::

        (doc_id, n_spans, dup_tokens, n_tokens, dup_token_frac)

    where ``dup_tokens`` counts tokens covered by the merged spans and
    ``dup_token_frac = dup_tokens / n_tokens`` (double division of exact
    integers).
    """
    ranges = repeated_substring_ranges(
        df, id_col, text_col, window=window, min_doc_freq=min_doc_freq
    )
    return (
        ranges.groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("span_tokens").cast("long").alias("dup_tokens"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_tokens",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("dup_tokens").cast("double") / F.col("n_tokens"))
            .alias("dup_token_frac"),
        )
    )


def substring_scrub_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = SCRUB_WINDOW,
    min_doc_freq: int = SCRUB_MIN_DOC_FREQ,
) -> DataFrame:
    """The token ACCOUNTING of :func:`substring_scrub`, without the text.

    Returns ``(doc_id, n_tokens, n_kept, n_removed)`` — exactly
    ``substring_scrub(...)`` minus ``clean_text`` (equality
    property-tested on random corpora) — computed as per-doc span
    arithmetic instead of a position explosion: merged spans are
    pairwise disjoint by construction (a new island requires a start
    gap > window), so ``n_removed = Σ span_tokens`` without ever
    materializing covered positions.

    The seam exists for manifest-only consumers (q54's packing tail
    needs counts, not rebuilt text): at 100 TB the scrub's
    position-level path adds ~n_tokens rows per document (posexplode +
    anti-join + rebuild agg) that a counts consumer pays for and then
    discards — Catalyst prunes the unused clean-text AGGREGATE but
    cannot know the position explosion itself is count-reducible. Here
    the whole tail after span mining is one per-doc sum plus a join to
    the token-count projection.
    """
    ranges = repeated_substring_ranges(
        df, id_col, text_col, window=window, min_doc_freq=min_doc_freq
    )
    removed = ranges.groupBy("doc_id").agg(
        F.sum("span_tokens").cast("long").alias("n_removed")
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )
    return base.join(removed, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_removed", F.lit(0)))
        .cast("long")
        .alias("n_kept"),
        F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
    )


def substring_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = SCRUB_WINDOW,
    min_doc_freq: int = SCRUB_MIN_DOC_FREQ,
) -> DataFrame:
    """ExactSubstr REMEDIATION: the corpus with duplicated spans excised.

    Rebuilds every document from its normalized token stream with all
    tokens covered by :func:`repeated_substring_ranges` spans removed —
    the boilerplate-scrub a training pipeline actually applies (Lee et
    al. ACL 2022 §4: training on the deduplicated text, not just
    measuring it). Output text is over NORMALIZED tokens (lowercased,
    whitespace-collapsed) — the same stream every dedup operator in this
    family is defined over. Returns one row per input document::

        (doc_id, clean_text, n_tokens, n_kept, n_removed)

    A fully-duplicated document comes back with ``clean_text = ''`` and
    ``n_kept = 0`` (it is the caller's policy whether to drop empties).

    Scale shape: span ranges explode to at most n_tokens covered
    positions per doc (spans are disjoint), the anti-join is per-doc
    co-partitioned with the token stream, and the rebuild is one
    per-doc sort_array over kept tokens — everything downstream of the
    range mining is partitioned by doc_id with group size = doc length.
    """
    ranges = repeated_substring_ranges(
        df, id_col, text_col, window=window, min_doc_freq=min_doc_freq
    )
    covered = ranges.select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("p"),
    )
    toks = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    toks_pos = toks.select(
        "doc_id",
        F.posexplode("t").alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    clean = (
        toks_pos.join(covered, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
        )
    )
    base = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return base.join(clean, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_tokens",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0).cast("long")))
        .alias("n_removed"),
    )
