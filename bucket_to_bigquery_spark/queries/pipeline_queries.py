"""Q51-Q53 — training-pipeline corpus transforms beyond the q46-q50 set:
substring-level exact dedup, its scrub remediation, and sequence
packing, each a declared, oracle-checked query (full DuckDB value
oracle, no tolerance band).

Q51/Q53 run over the SAME planted-duplicate corpus the q46/q47 family
uses (llm_queries.CORPUS_SQL), so results are non-vacuous: the planted
exact copies produce whole-document spans (and scrub to empty), the
truncated half-copies produce prefix spans, the near copies produce
all-but-the-tail spans. Q52 runs over the raw documents table (packing
needs no planted structure).

Cross-engine determinism: q51/q53 window hashes are md5 hex prefixes,
span/position math is pure integer, and the cleaned text is a canonical
space-joined token reconstruction (md5-bound in both engines); q52 is
pure integer arithmetic (`div` in Spark ≡ `//` in DuckDB).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import exact_dedup_key, ngram_jaccard_pairs
from ..operators.graph import connected_components
from ..operators.materialize import checkpoint
from ..operators.substring import (
    SCRUB_MIN_DOC_FREQ,
    SCRUB_WINDOW,
    repeated_substring_spans,
    substring_scrub,
    substring_scrub_counts,
)
from .llm_queries import CORPUS_SQL, _TOKS_SQL, _dedup_corpus, quality_gates
from .registry import _NORM_SQL, query, tables

# ---------------------------------------------------------------------------
# Q51 — repeated-substring spans (substring-granular exact dedup)
# ---------------------------------------------------------------------------


def span_ctes(rel: str, p: str = "") -> str:
    """The repeated-substring span CTE chain over relation ``rel``
    (doc_id, text): token arrays -> window hashes -> duplicated
    positions -> gaps-and-islands spans. CTE names are prefixed with
    ``p`` so the chain composes into a larger oracle (q54 runs it over
    the pipeline's survivor corpus as ``s``-prefixed CTEs) without name
    collisions — the q47_index_ctes/gates_ctes no-drift pattern. Windows
    and the duplicate-document bar are the scrub operator's
    (``SCRUB_WINDOW``, ``SCRUB_MIN_DOC_FREQ``).
    """
    W = SCRUB_WINDOW
    return (
        f"{p}tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM {rel}), "
        # 1-based window starts 1 .. len-W+1; t[i:i+W-1] is W elements
        # (DuckDB list slicing is inclusive); hash = the shingle_hash
        # idiom (15 md5 hex chars -> 60-bit BIGINT), mirrored literally.
        f"{p}wins AS (SELECT doc_id, len(t) AS n_tokens, i AS pos, "
        f"CAST(('0x' || substr(md5(array_to_string(t[i:i+{W - 1}], ' ')), 1, 15)) AS BIGINT) "
        "AS whash "
        f"FROM {p}tok, LATERAL unnest(range(1, len(t) - {W - 2})) AS u(i) "
        f"WHERE len(t) >= {W}), "
        f"{p}dup AS (SELECT whash FROM {p}wins GROUP BY whash "
        f"HAVING COUNT(DISTINCT doc_id) >= {SCRUB_MIN_DOC_FREQ}), "
        f"{p}m AS (SELECT doc_id, n_tokens, pos FROM {p}wins "
        f"WHERE whash IN (SELECT whash FROM {p}dup)), "
        # gaps-and-islands: new island when the start gap exceeds the
        # window width (windows at p1 < p2 cover contiguous tokens iff
        # p2 <= p1+W); first row per doc: lag NULL -> comparison NULL ->
        # ELSE 0.
        f"{p}brk AS (SELECT doc_id, n_tokens, pos, "
        f"CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {W} "
        f"THEN 1 ELSE 0 END AS b FROM {p}m), "
        f"{p}isl AS (SELECT doc_id, n_tokens, pos, "
        "SUM(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) "
        f"AS island FROM {p}brk), "
        f"{p}spans AS (SELECT doc_id, n_tokens, island, MIN(pos) AS span_start, "
        f"MAX(pos) + {W - 1} AS span_end, "
        f"MAX(pos) - MIN(pos) + {W} AS span_tokens "
        f"FROM {p}isl GROUP BY doc_id, n_tokens, island)"
    )


# Shared CTE chain (q51 stats + q53 scrub): the span chain over the
# planted-duplicate corpus, unprefixed (q53's SQL references tok/spans).
_Q51_SPAN_CTES = f"corpus AS ({CORPUS_SQL}), " + span_ctes("corpus")

_Q51_SQL = (
    f"WITH {_Q51_SPAN_CTES} "
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans, "
    "CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens, "
    "CAST(n_tokens AS BIGINT) AS n_tokens, "
    "CAST(SUM(span_tokens) AS DOUBLE) / CAST(n_tokens AS BIGINT) AS dup_token_frac "
    "FROM spans GROUP BY doc_id, n_tokens ORDER BY doc_id"
)


@query(
    "q51_repeated_substrings",
    oracle=_Q51_SQL,
    description=(
        "Q51: substring-level exact dedup — per-document maximal spans of "
        "8-token windows whose content occurs in >= 2 distinct documents "
        "(the Spark-native shape of ExactSubstr dedup, Lee et al. ACL "
        "2022: windowed-hash inverted index + gaps-and-islands merge "
        "instead of a single-machine suffix array). Output is LINEAR in "
        "corpus size — no pair fan-out: an 8-byte-key shuffle for the "
        "window document-frequency count (two-phase distinct aggregate, "
        "map-side dedup bounding hot boilerplate keys; the duplicated-"
        "content-sized dup set broadcasts back onto the pinned-width "
        "index), then a per-document window function. The planted exact "
        "copies span their whole documents (dup_token_frac = 1.0), the "
        "half-copies their whole prefix, the near copies everything but "
        "the appended tail."
    ),
    tags=("llm",),
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        repeated_substring_spans(_dedup_corpus(spark, sf_dir), "doc_id", "text")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q53 — substring scrub (ExactSubstr remediation)
# ---------------------------------------------------------------------------

_Q53_SQL = (
    f"WITH {_Q51_SPAN_CTES}, "
    # spans of one doc are pairwise disjoint (a new island requires a
    # start gap > window), so the covered-position explosion is at most
    # n_tokens rows per doc and needs no DISTINCT
    "covered AS (SELECT doc_id, u.p FROM spans, "
    "LATERAL unnest(range(span_start, span_end + 1)) AS u(p)), "
    "toks_pos AS (SELECT doc_id, i AS p, t[i] AS tok "
    "FROM tok, LATERAL unnest(range(1, len(t) + 1)) AS u(i)), "
    "clean AS (SELECT tp.doc_id, "
    "array_to_string(list(tp.tok ORDER BY tp.p), ' ') AS clean_text, "
    "COUNT(*) AS n_kept FROM toks_pos tp "
    "WHERE NOT EXISTS (SELECT 1 FROM covered c "
    "WHERE c.doc_id = tp.doc_id AND c.p = tp.p) "
    "GROUP BY tp.doc_id) "
    "SELECT tk.doc_id, md5(COALESCE(cl.clean_text, '')) AS clean_md5, "
    "CAST(len(tk.t) AS BIGINT) AS n_tokens, "
    "CAST(COALESCE(cl.n_kept, 0) AS BIGINT) AS n_kept, "
    "CAST(len(tk.t) - COALESCE(cl.n_kept, 0) AS BIGINT) AS n_removed "
    "FROM tok tk LEFT JOIN clean cl USING (doc_id) ORDER BY tk.doc_id"
)


@query(
    "q53_substring_scrub",
    oracle=_Q53_SQL,
    description=(
        "Q53: ExactSubstr REMEDIATION — the corpus rebuilt with every "
        "q51 duplicated span excised (Lee et al. ACL 2022 train on the "
        "deduplicated text; q51 only measures it). Each document's "
        "normalized token stream drops the positions covered by merged "
        "duplicated spans; output binds the cleaned content via "
        "md5(clean_text) plus kept/removed token counts (planted exact "
        "copies scrub to empty, n_kept = 0). Scale shape: span ranges "
        "explode to at most n_tokens disjoint positions per doc, the "
        "anti-join and rebuild are per-doc co-partitioned window/agg "
        "work downstream of the audited q51 index — nothing quadratic, "
        "nothing driver-side."
    ),
    tags=("llm",),
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        substring_scrub(_dedup_corpus(spark, sf_dir), "doc_id", "text")
        .select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_tokens", "n_kept", "n_removed",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q52 — sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------

_Q52_SEQ_LEN = 512  # tokens per training sequence (chunk)
_Q52_SHARDS = 8


def pack_sql_tail(rel: str) -> str:
    """offs + final chunk aggregation over ``rel`` (shard_id, doc_id,
    n_tok) — shared by the q52 and q54 oracles so the packing literals
    (_Q52_SEQ_LEN/_Q52_SHARDS shard math lives with the caller's tok
    CTE) cannot drift between them."""
    return (
        f"offs AS (SELECT shard_id, doc_id, n_tok, "
        "COALESCE(SUM(n_tok) OVER (PARTITION BY shard_id ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off "
        f"FROM {rel}) "
        "SELECT shard_id, "
        f"CAST(start_off // {_Q52_SEQ_LEN} AS BIGINT) AS chunk_id, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(n_tok) AS BIGINT) AS n_tokens, "
        "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc "
        "FROM offs GROUP BY shard_id, chunk_id ORDER BY shard_id, chunk_id"
    )


_Q52_SQL = (
    "WITH tok AS (SELECT doc_id, "
    f"CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok, "
    f"CAST(doc_id % {_Q52_SHARDS} AS BIGINT) AS shard_id FROM documents), "
    + pack_sql_tail("tok")
)


def pack_chunks(with_text: DataFrame) -> DataFrame:
    """Concat-and-chunk packing over any (doc_id, text) frame — ONE
    definition shared by q52 and (through :func:`pack_chunks_counts`)
    the q54 pipeline tail (the same no-drift rationale as
    quality_gates/q47_index_ctes)."""
    from ..operators.dedup import tokens

    return pack_chunks_counts(
        with_text.select(
            "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
        )
    )


def pack_chunks_counts(counts: DataFrame) -> DataFrame:
    """Packing over precomputed token counts (doc_id, n_tok) — the seam
    that lets q54 pack the SCRUBBED token counts (n_kept) without
    re-tokenizing the rebuilt text."""
    tok = counts.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        (F.col("doc_id") % _Q52_SHARDS).cast("long").alias("shard_id"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = tok.select(
        "shard_id", "doc_id", "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("start_off"),
    )
    return (
        offs.select(
            "shard_id", "doc_id", "n_tok",
            F.expr(f"start_off div {_Q52_SEQ_LEN}").alias("chunk_id"),
        )
        .groupBy("shard_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id", "chunk_id")
    )


@query(
    "q52_sequence_packing",
    oracle=_Q52_SQL,
    description=(
        "Q52: sequence packing — the concat-and-chunk assignment a "
        "pretraining pipeline runs to turn variable-length documents into "
        "fixed 512-token training sequences: documents are concatenated "
        "in doc_id order WITHIN a shard (doc_id mod 8) and every document "
        "is assigned the chunk its first token lands in "
        "(chunk_id = start_offset div 512); emits per-chunk composition "
        "(doc count, started-token count, doc-id range). Sharding is the "
        "scale story: the running-offset window partitions by shard_id, "
        "so 1000 executors pack their shards independently — no global "
        "sort, one shuffle — while (shard, doc_id) order keeps the "
        "assignment deterministic. Pure integer arithmetic end to end."
    ),
    tags=("llm",),
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    return pack_chunks(d.select("doc_id", "text"))


# ---------------------------------------------------------------------------
# Q54 — full pipeline (clean -> dedup -> survivors -> pack), one plan
# ---------------------------------------------------------------------------

from .llm_queries import (  # noqa: E402
    _Q47_PAIRS_FRAGMENT, closure_ctes, gates_ctes, q47_index_ctes,
)

_Q54_SQL = (
    f"WITH RECURSIVE corpus AS ({CORPUS_SQL}), "
    f"{gates_ctes('corpus', 'q')}, "
    "kept AS (SELECT doc_id FROM qg WHERE len_ok AND tok_shape_ok "
    "AND no_megatoken AND has_stopwords), "
    "clean AS (SELECT c.doc_id, c.text FROM corpus c JOIN kept USING (doc_id)), "
    f"eh AS (SELECT doc_id, sha256({_NORM_SQL}) AS h FROM clean), "
    "keepers AS (SELECT MIN(doc_id) AS doc_id FROM eh GROUP BY h), "
    "corpus2 AS (SELECT c.doc_id, c.text FROM clean c JOIN keepers USING (doc_id)), "
    f"{q47_index_ctes('corpus2')}, "
    f"{_Q47_PAIRS_FRAGMENT}, "
    + closure_ctes("pairs", "id_a", "id_b", "corpus2", "doc_id") + ", "
    "surv AS (SELECT doc_id FROM lab WHERE doc_id = cluster_id), "
    # SCRUB stage (r7, VERDICT r6 #4): the q51/q53 span chain over the
    # near-dup SURVIVOR corpus (s-prefixed CTEs, same shared fragment).
    # Spans of one doc are pairwise disjoint by construction (a new
    # island requires a start gap > window — the q53 oracle certifies
    # the position-level equivalence), so the kept-token count is
    # n_tokens - SUM(span_tokens) without a position explosion.
    "fin AS (SELECT c2.doc_id, c2.text FROM corpus2 c2 JOIN surv USING (doc_id)), "
    + span_ctes("fin", "s") + ", "
    "sdoc AS (SELECT doc_id, SUM(span_tokens) AS dup FROM sspans GROUP BY doc_id), "
    "skept AS (SELECT t.doc_id, len(t.t) - COALESCE(d.dup, 0) AS n_kept "
    "FROM stok t LEFT JOIN sdoc d USING (doc_id)), "
    # fully-scrubbed docs (n_kept = 0) carry nothing to train on: drop
    # them before packing (declared policy, mirrored in the builder)
    "ptok AS (SELECT doc_id, CAST(n_kept AS BIGINT) AS n_tok, "
    f"CAST(doc_id % {_Q52_SHARDS} AS BIGINT) AS shard_id "
    "FROM skept WHERE n_kept > 0), "
    + pack_sql_tail("ptok")
)


def preprocess(docs: DataFrame) -> tuple[DataFrame, Callable[[], None]]:
    """The preprocessing front end shared by q54 and ``run pipeline``:
    exact dedup → quality gates → n-gram-Jaccard near-dup pairs →
    connected-components min-id survivors, over a (doc_id, text) frame.

    Returns the near-dup survivor frame ``(doc_id, text)`` (each
    survivor's raw text) and a ``release()`` that frees the blocks the
    frame reads: its checkpoint and the CC publish cache. Call it only
    after every consumer of the frame has been materialized — a
    localCheckpoint has no lineage to rebuild from.

    Exact dedup runs BEFORE the gates although the q54 oracle gates
    first: every gate is a pure function of the normalized text
    (quality_gates derives toks/nc from normalize_text) and the dedup
    key is sha256 of that same normalized text (exact_dedup_key), so the
    gate verdict is constant within a hash group, a group either
    survives gating whole or vanishes whole, and min(doc_id) over the
    gated group equals min(doc_id) over the full group. Gating after
    dedup therefore keeps exactly the gates-first survivor set (oracle
    parity + the hypothesis differential suite). Dedup-first is ONE
    corpus scan into ONE map-side-combined aggregate — min_by carries
    the keeper's raw text through the exchange, so no survivor join
    back against the corpus — and the tokenize-heavy gate chain runs
    once over survivors only (the gates-first shape scanned the corpus
    8 times, plans/r17/q54_exact_surv_subtree_before.txt).

    The survivor frame feeds five subtrees — the pair miner, the CC node
    set, the survivor join, and the scrub's window-index and token-count
    branches — and as one lazy lineage each consumer would re-run the
    dedup chain from the corpus scan. The dedup aggregate is checkpointed
    once; the gated survivors are checkpointed in turn (both join inputs
    read the first checkpoint, so the gate chain runs exactly once) and
    the first checkpoint is freed.

    The near-dup settings are the operator's (``operators.dedup``
    ``NGRAM_N``, ``JACCARD_THRESHOLD``, ``MAX_SHINGLE_DF``), the ones the
    q54 oracle reads; ``run pipeline`` exposes none of them.
    """
    dedup, release_dedup = checkpoint(
        docs.select("doc_id", "text", exact_dedup_key("text").alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .select("doc_id", "text")
    )
    kept = quality_gates(dedup).where("kept").select("doc_id")
    survivors, release = checkpoint(dedup.join(kept, "doc_id"))
    release_dedup()  # survivors is materialized; nothing else reads dedup
    pairs = ngram_jaccard_pairs(survivors, "doc_id", "text")
    comp = connected_components(
        pairs, src="id_a", dst="id_b",
        nodes=survivors.select("doc_id"), node_col="doc_id",
        nodes_unique=True,  # doc_id is the dedup group's min id
        edges_unique=True,  # pair miner emits each pair once, id_a < id_b
    )
    roots = (
        comp.where(F.col("node") == F.col("cluster_id"))
        .select(F.col("node").alias("doc_id"))
    )

    def release_all() -> None:
        comp.unpersist()
        release()

    return survivors.join(roots, "doc_id"), release_all


@query(
    "q54_full_pipeline",
    oracle=_Q54_SQL,
    description=(
        "Q54: the END-TO-END preprocessing run as ONE declarative plan — "
        "what a user of this engine actually executes to turn a raw "
        "corpus into training sequences: C4-style quality gates (q49e's "
        "exact gate set, one shared definition) -> exact dedup min-id "
        "survivors (q46) -> near-dup pair mining + connected-components "
        "min-id survivors (q47/q46c/q46d machinery, same literals) -> "
        "ExactSubstr scrub of cross-document duplicated spans (q51/q53 "
        "machinery; fully-scrubbed docs dropped — this is the Lee et "
        "al. ACL 2022 pipeline order, added r7) -> sharded "
        "concat-and-chunk packing of the SCRUBBED token counts into "
        "512-token sequences (q52), emitting the per-chunk training "
        "manifest. Every stage is the already-audited operator (the "
        "scrub enters through substring_scrub_counts, the span-"
        "arithmetic counts projection property-tested equal to the full "
        "scrub — a manifest consumer never pays the position-level "
        "rebuild); the composition hands Catalyst the WHOLE lineage, so "
        "filters prune before the expensive inverted index and nothing "
        "materializes between stages. The oracle composes the same "
        "stages from the same CTE fragments (shared constants, not "
        "copies) with a recursive closure for the cluster stage."
    ),
    tags=("llm",),
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the returned plan reads preprocess()'s blocks lazily, so q54 leaves
    # them to the session sweep instead of calling release()
    final, _release = preprocess(_dedup_corpus(spark, sf_dir))
    # scrub stage, counts projection: packing needs n_kept, not rebuilt
    # text, and substring_scrub_counts derives it as per-doc span
    # arithmetic (removed = Σ span_tokens, exact by span disjointness —
    # property-tested equal to the full substring_scrub) — Catalyst can
    # prune the full scrub's unused clean-text AGGREGATE but not its
    # position explosion, which cost q54 a second corpus-sized
    # posexplode + anti-join. Fully-scrubbed docs (n_kept = 0) drop.
    scrubbed = substring_scrub_counts(final, "doc_id", "text")
    return pack_chunks_counts(
        scrubbed.where(F.col("n_kept") > 0)
        .select("doc_id", F.col("n_kept").alias("n_tok"))
    )
