"""Q46-Q50 — LLM training-data pipeline operators (the north star), each a
declared, oracle-checked query over ``documents`` / ``embeddings``.

The testdata has no duplicate documents at sf0.01, so the dedup queries
build a corpus with KNOWN duplicates — documents unioned with exact copies
(ids +100000) and near copies with three appended tokens (ids +200000) —
constructed identically in Spark and in the oracle SQL. Results are
therefore non-vacuous: every dedup query finds the planted structure.

Cross-engine determinism (see operators/dedup.py, operators/similarity.py):
token hashes come from md5 hex prefixes, vector math from per-element
scaled integers, ratios from exact-int numerators/denominators — both
engines execute the same IEEE ops in the same order, so value hashes match
bit-for-bit with no tolerance band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    MINHASH_BANDS,
    MINHASH_PRIME,
    MINHASH_SEED,
    ROLLING_BASE,
    ROLLING_MOD,
    exact_dedup_groups,
    minhash_candidate_pairs,
    minhash_params,
    ngram_jaccard_pairs,
    normalize_text,
    rolling_fingerprint,
    shingles,
    simhash_col,
    tokens,
)
from ..operators.multimodal import attach_payload, extract_byte_features, payload_magic
from ..operators.similarity import ann_topk_lsh, cosine_topk_exact
from .registry import _NORM_SQL, davg_sql, query, tables

# ---------------------------------------------------------------------------
# Shared corpus-with-planted-duplicates (both engines, literally)
# ---------------------------------------------------------------------------

_NEAR_TAIL = " zz9 qq8 vv7"

_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"
# 60-bit md5-prefix hash of the 3-gram starting at token ``i`` of the
# token list ``t`` — the oracle twin of operators/dedup.shingle_hash over
# 3-token shingles; q47, q47b and the q55 incremental oracles share it.
_SHINGLE_HASH_SQL = (
    "CAST(('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15)) AS BIGINT)"
)
_TOKHASH_SQL = "CAST(('0x' || substr(md5({t}), 1, 8)) AS BIGINT)"
# The 32-bit SimHash fold over a token-hash list column ``hs`` — the
# oracle twin of operators/dedup.simhash_col(bits=32). ONE definition:
# q46b interpolates it and hamming/neardup_cc import it,
# so the fingerprint contract cannot desync across consumers.
_SIMHASH_SQL = (
    "CAST(list_sum(list_transform(range(0, 32), j -> "
    "CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0 "
    "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)"
)

# Planted structure: exact copies (+100000), near copies with a 3-token
# tail (+200000, jaccard ≈ 0.9), and truncated first-half copies
# (+300000, the CONTAINMENT case: the half's shingles are a subset of the
# original's, so containment = 1.0 while jaccard ≈ 0.5 sits below q47's
# 0.6 gate — found by q47e only).
CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents "
    "WHERE doc_id % 10 = 0 "
    "UNION ALL SELECT doc_id + 200000 AS doc_id, text || '" + _NEAR_TAIL + "' AS text "
    "FROM documents WHERE doc_id % 10 = 1 "
    "UNION ALL SELECT doc_id + 300000 AS doc_id, "
    f"array_to_string(({_TOKS_SQL})[1:CAST(floor(len({_TOKS_SQL}) / 2) AS INT)], ' ') "
    "AS text FROM documents WHERE doc_id % 10 = 2"
)


def _build_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"].select("doc_id", "text")
    exact = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = d.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_NEAR_TAIL)).alias("text"),
    )
    t = tokens("text")
    half = d.where(F.col("doc_id") % 10 == 2).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.array_join(
            F.slice(t, 1, F.floor(F.size(t) / 2).cast("int")), " "
        ).alias("text"),
    )
    return d.unionAll(exact).unionAll(near).unionAll(half)


def _dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-duplicate corpus, materialized once per sf_dir.

    The corpus is bench scaffolding (the real pipeline reads a corpus,
    it does not synthesize one), but its 4-way union of tokenize
    transforms used to be INLINED into every dedup-family plan — and
    each plan's pruning gave every consumer subtree its own copy to
    re-codegen and re-execute, dominating the family's cold cost (q51
    measured 11.2 s cold in-bench vs 2.0 s warm; the split was compile,
    not compute). Materializing to scratch parquet once per sf_dir
    (scratch.materialize_once) turns every dedup query's input into a
    plain parquet scan, so the benchmark measures the OPERATOR, not
    corpus synthesis. Row content is identical; every consumer ends in
    an explicit ORDER BY, so ordering differences cannot surface."""
    from ..scratch import materialize_once, scratch_path

    def _write(path: str) -> None:
        # r16 (guide §6, file layout): the 4-way-union build plan writes
        # 4 part files, and every file is a single row group — so every
        # consumer scan (q46-q57/q89 family) ran at most 4 tasks wide,
        # including the tokenize-heavy predicates Catalyst pushes down
        # to the scan (q51/q53/q54 measured 4-way on a 32-core local).
        # Round-robin to defaultParallelism at write time: one extra
        # exchange on the once-per-sf_dir build, and consumer scans get
        # cluster-width splits. Scale-adaptive — at warehouse scale
        # defaultParallelism tracks the cluster, and Spark's split
        # bin-packing (maxSplitBytes) still coalesces if files are tiny.
        par = spark.sparkContext.defaultParallelism
        _build_dedup_corpus(spark, sf_dir).repartition(par).write.mode(
            "overwrite"
        ).parquet(path)

    path = materialize_once(scratch_path("dedup_corpus", sf_dir), _write)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# Q46 — exact dedup + SimHash fingerprints
# ---------------------------------------------------------------------------


@query(
    "q46_exact_dedup",
    oracle=(
        f"WITH corpus AS ({CORPUS_SQL}) "
        f"SELECT sha256({_NORM_SQL}) AS text_hash, "
        "COUNT(*) AS n_copies, MIN(doc_id) AS keep_id "
        "FROM corpus GROUP BY text_hash ORDER BY text_hash"
    ),
    description=(
        "Q46: exact dedup — sha256 over normalized text, hash group-by "
        "with min-id survivor rule. One shuffle on a 32-byte key; the "
        "planted exact copies collapse into n_copies=2 groups."
    ),
    tags=("llm",),
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        exact_dedup_groups(_dedup_corpus(spark, sf_dir), "doc_id", "text")
        .orderBy("text_hash")
    )


@query(
    "q46b_simhash_fingerprint",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        f"list_transform(list_distinct({_TOKS_SQL}), t -> "
        + _TOKHASH_SQL.format(t="t")
        + ") AS hs FROM documents) "
        f"SELECT doc_id, {_SIMHASH_SQL} AS simhash "
        "FROM t ORDER BY doc_id"
    ),
    description=(
        "Q46b: 32-bit SimHash per document from md5 token hashes — one "
        "row-local Arrow-batched pandas_udf (r15: the Catalyst HOF fold "
        "evaluated interpreted; the vectorized pass is 2.3x faster with "
        "bit-identical output), no shuffle; Hamming distance on the "
        "fingerprint approximates token-set overlap (the banded "
        "grouping for simhash near-dup joins on fingerprint bands)."
    ),
    tags=("llm",),
)
def q46b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", simhash_col(tokens("text"), bits=32).alias("simhash"))
        .orderBy("doc_id")
    )


# Shared by q47/q47e (pairs) and q46c (pair graph → clusters).
# Shingles are 60-bit md5-prefix hashes — mirroring the Spark side, which
# shuffles/joins the inverted index on 8-byte longs instead of shingle
# strings (operators/dedup.shingle_hash; collisions are mirrored, so
# parity is exact by construction).
def q47_index_ctes(corpus_rel: str) -> str:
    """The q47 inverted-index CTE chain over relation ``corpus_rel``
    (doc_id, text) — parameterized so the q54 full pipeline composes the
    SAME literals over its filtered corpus instead of duplicating them."""
    return (
        f"tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM {corpus_rel}), "
        f"sh AS (SELECT DISTINCT doc_id, {_SHINGLE_HASH_SQL} AS shingle "
        "FROM tok, LATERAL unnest(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3), "
        "hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 100), "
        "idx AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)), "
        "sizes AS (SELECT doc_id, COUNT(*) AS ns FROM idx GROUP BY doc_id), "
        "common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common "
        "FROM idx a JOIN idx b USING (shingle) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2)"
    )


_Q47_PAIRS_FRAGMENT = (
    "pairs AS (SELECT id_a, id_b, "
    "CAST(n_common AS DOUBLE) / (sa.ns + sb.ns - n_common) AS jaccard "
    "FROM common "
    "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
    "WHERE CAST(n_common AS DOUBLE) / (sa.ns + sb.ns - n_common) >= 0.6)"
)

_Q47_BASE_CTES = f"corpus AS ({CORPUS_SQL}), " + q47_index_ctes("corpus")


def closure_ctes(pairs: str, a: str, b: str, nodes: str, node: str) -> str:
    """The recursive min-label closure over an undirected pair list, for
    a ``WITH RECURSIVE`` oracle: ``edges`` holds both directions of
    ``pairs``' (``a``, ``b``) rows, ``reach`` every node reachable from
    each row of ``nodes``, and ``lab`` (``node``, ``cluster_id``) each
    node's component minimum — the labels the CC operator converges to."""
    return (
        f"edges AS (SELECT {a} AS s, {b} AS d FROM {pairs} "
        f"UNION ALL SELECT {b} AS s, {a} AS d FROM {pairs}), "
        f"reach(a, b) AS (SELECT {node}, {node} FROM {nodes} "
        "UNION SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b), "
        f"lab AS (SELECT a AS {node}, MIN(b) AS cluster_id FROM reach "
        "GROUP BY a)"
    )
_Q47_PAIR_CTES = f"{_Q47_BASE_CTES}, {_Q47_PAIRS_FRAGMENT}"


def _dedup_components(spark: SparkSession, sf_dir: str):
    """Shared q46c/q46d pipeline: (corpus, components) for the planted-dup
    corpus, with THE canonical pair-mining parameters (n=3, jaccard>=0.6,
    DF cap 100 — the same literals `_Q47_PAIR_CTES` states for the
    oracles). One definition so the cluster view cannot drift between the
    assignment query and the apply query."""
    from ..operators.graph import connected_components

    corpus = _dedup_corpus(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.6, max_shingle_df=100
    )
    comp = connected_components(
        pairs, src="id_a", dst="id_b",
        nodes=corpus.select("doc_id"), node_col="doc_id",
        nodes_unique=True,  # doc_id is the corpus primary key
        edges_unique=True,  # pair-miner emits each pair once, id_a < id_b
    )
    return corpus, comp


@query(
    "q46c_dedup_clusters",
    oracle=(
        f"WITH RECURSIVE {_Q47_PAIR_CTES}, "
        + closure_ctes("pairs", "id_a", "id_b", "corpus", "doc_id") + " "
        "SELECT doc_id, cluster_id, "
        "CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size, "
        "doc_id = cluster_id AS is_canonical "
        "FROM lab ORDER BY doc_id"
    ),
    description=(
        "Q46c: dedup cluster assignment — the transitive closure over the "
        "q47 near-dup pair graph via distributed min-label propagation "
        "(operators/graph.py): every document gets its component's min id "
        "as cluster_id, the size of its cluster, and the canonical-survivor "
        "flag. Each propagation round is one shuffle with lineage "
        "truncated by localCheckpoint; convergence is a scalar changed-count "
        "aggregate, never a driver-side label collect. The oracle computes "
        "the same closure with a recursive CTE."
    ),
    tags=("llm",),
)
def q46c(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    _, comp = _dedup_components(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return (
        comp.select(F.col("node").alias("doc_id"), "cluster_id")
        .select(
            "doc_id", "cluster_id",
            F.count("*").over(w).cast("long").alias("cluster_size"),
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


@query(
    "q46d_dedup_apply",
    oracle=(
        f"WITH RECURSIVE {_Q47_PAIR_CTES}, "
        + closure_ctes("pairs", "id_a", "id_b", "corpus", "doc_id") + ", "
        "csizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_represented "
        "FROM lab GROUP BY cluster_id) "
        "SELECT l.doc_id, md5(c.text) AS text_md5, s.n_represented "
        "FROM lab l JOIN corpus c USING (doc_id) "
        "JOIN csizes s ON s.cluster_id = l.cluster_id "
        "WHERE l.doc_id = l.cluster_id ORDER BY l.doc_id"
    ),
    description=(
        "Q46d: END-TO-END dedup application — the composition a real "
        "pipeline actually runs: near-dup pair mining (q47 machinery) → "
        "connected components over the pair graph (q46c machinery) → keep "
        "min(doc_id) per cluster → emit the filtered corpus. Survivors "
        "carry md5(text) (content-binding for the value oracle) and "
        "n_represented (how many corpus docs the survivor stands for; "
        "sums to the corpus size). Scale shape: everything upstream is "
        "the already-audited capped inverted index + O(log d) label "
        "propagation; the apply step adds ONE broadcast-size join of the "
        "survivor labels back to the corpus (survivor set ≤ corpus) and a "
        "cluster-size aggregate on the component output — no new "
        "all-pairs or driver-side stage."
    ),
    tags=("llm",),
)
def q46d(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, comp = _dedup_components(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_represented")
    )
    survivors = (
        comp.where(F.col("node") == F.col("cluster_id"))
        .select(F.col("node").alias("doc_id"), "cluster_id")
        .join(sizes, "cluster_id")
    )
    return (
        corpus.join(survivors, "doc_id")
        .select("doc_id", F.md5("text").alias("text_md5"), "n_represented")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q47 — near-dup: exact n-gram Jaccard + MinHash LSH
# ---------------------------------------------------------------------------


@query(
    "q47_ngram_jaccard_pairs",
    oracle=(
        f"WITH {_Q47_PAIR_CTES} "
        "SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b"
    ),
    description=(
        "Q47: near-dup pairs — word-3-gram shingle sets, inverted index "
        "self-join (pairs only for docs sharing a shingle). Jaccard is "
        "EXACT over the DF-capped shingle universe: hot/boilerplate "
        "shingles (>100 docs) are excluded from intersection AND sizes, "
        "bounding hot-key fan-out. Jaccard >= 0.6; finds all planted "
        "exact (j=1.0) and near (j≈0.9) pairs."
    ),
    tags=("llm",),
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        ngram_jaccard_pairs(
            _dedup_corpus(spark, sf_dir), "doc_id", "text",
            n=3, threshold=0.6, max_shingle_df=100,
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "q47e_containment_pairs",
    oracle=(
        f"WITH {_Q47_BASE_CTES}, "
        "cpairs AS (SELECT id_a, id_b, "
        "CAST(n_common AS DOUBLE) / least(sa.ns, sb.ns) AS containment "
        "FROM common "
        "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "WHERE CAST(n_common AS DOUBLE) / least(sa.ns, sb.ns) >= 0.9) "
        "SELECT id_a, id_b, containment FROM cpairs ORDER BY id_a, id_b"
    ),
    description=(
        "Q47e: containment dedup — pairs with |A∩B| / min(|A|,|B|) >= "
        "0.9 over the DF-capped shingle universe: the one-sided overlap "
        "gate that catches SUBSET duplicates symmetric Jaccard misses "
        "(a doc quoted whole inside a longer one scores 1.0 here, "
        "|A|/|B| ≪ 1 there). Shares q47's inverted-index candidate "
        "machinery — only the scoring projection differs; the planted "
        "near-copies (original ⊂ original+tail) score exactly 1.0."
    ),
    tags=("llm",),
)
def q47e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_containment_pairs

    return (
        ngram_containment_pairs(
            _dedup_corpus(spark, sf_dir), "doc_id", "text",
            n=3, threshold=0.9, max_shingle_df=100,
        )
        .orderBy("id_a", "id_b")
    )


# MinHash signature oracle pieces: the SAME (a, b) literals the Spark
# expressions embed (dedup.minhash_params is the single source of truth),
# over shingle hashes reduced mod the same Mersenne prime.
_MH_PARAMS_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(MINHASH_BANDS, MINHASH_SEED))
)
_MH_SH_SQL = (
    f"sh AS (SELECT DISTINCT doc_id, {_SHINGLE_HASH_SQL}"
    f" % {MINHASH_PRIME} AS shingle "
    "FROM tok, LATERAL unnest(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3)"
)


@query(
    "q47b_minhash_lsh_pairs",
    oracle=(
        f"WITH corpus AS ({CORPUS_SQL}), "
        f"tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM corpus), "
        f"{_MH_SH_SQL}, "
        f"params(band, a, b) AS (VALUES {_MH_PARAMS_SQL}), "
        "lists AS (SELECT doc_id, list(shingle) AS ls, COUNT(*) AS ns "
        "FROM sh GROUP BY doc_id), "
        f"m AS (SELECT doc_id, band, MIN((a * shingle + b) % {MINHASH_PRIME}) "
        "AS sig FROM sh CROSS JOIN params GROUP BY doc_id, band), "
        "cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b "
        "FROM m x JOIN m y ON x.band = y.band AND x.sig = y.sig "
        "WHERE x.doc_id < y.doc_id), "
        "pairs AS (SELECT id_a, id_b, "
        "1.0 - CAST(len(list_intersect(pa.ls, pb.ls)) AS DOUBLE) / "
        "(pa.ns + pb.ns - len(list_intersect(pa.ls, pb.ls))) AS dist "
        "FROM cand JOIN lists pa ON pa.doc_id = id_a "
        "JOIN lists pb ON pb.doc_id = id_b) "
        "SELECT id_a, id_b FROM pairs WHERE dist <= 0.4 ORDER BY id_a, id_b"
    ),
    description=(
        "Q47b: near-dup candidates via explicit banded MinHash — per-doc "
        "signatures min((a_i·shingle + b_i) mod p) as row-local array_min "
        "projections (no fit stage), candidates from ONE equi-join on the "
        "(band, signature) bucket key (sub-quadratic — the 100 TB path; an "
        "all-pairs crossJoin never appears), then exact Jaccard over the "
        "hashed shingle sets verifies each candidate. Deterministic "
        "closed-form hashing ⇒ the DuckDB oracle hash-verifies the full "
        "result (the pyspark.ml MinHashLSH it replaces was only "
        "rows-only-checkable); tests additionally assert recall of the "
        "planted pairs vs q47."
    ),
    tags=("llm", "approx"),
)
def q47b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        minhash_candidate_pairs(
            _dedup_corpus(spark, sf_dir), "doc_id", "text",
            n=3, jaccard_distance_threshold=0.4,
        )
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Q48 — similarity search
# ---------------------------------------------------------------------------

# SQL twins of the exact e12 integer contract in operators/similarity.py
# (norm_e12, dot_e12, _d2_e12_rows): per-element round, then an integer
# sum. The only definitions; q48g (scan_stats), q48h (ann_exact) and
# q130 (lloyd_step) import them from here.
_NORM_E12_SQL = (
    "CAST(list_sum(list_transform({v}, x -> "
    "CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT)"
)
_DOT_E12_SQL = (
    "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
    "CAST(round(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12) AS BIGINT)))"
    " AS BIGINT)"
)
_D2_E12_SQL = (
    "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
    "CAST(round((CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
    "(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * 1e12) AS BIGINT)))"
    " AS BIGINT)"
)
# The injected-centroid oracles' opening CTEs, the SQL twin of
# similarity._injected_centroids: corpus size ``nn``, the operating point
# ``ll`` (ivf_operating_point) and the ``cent`` table of the n_lists
# lowest-vec_id embeddings as list ids 0..L-1.
_INJECTED_CENT_CTES = (
    "WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings), "
    "ll AS (SELECT LEAST(GREATEST(CAST(round(sqrt(CAST(n AS DOUBLE))) "
    "AS BIGINT), 8), 4096) AS n_lists FROM nn), "
    "cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) "
    "- 1 AS list_id, embedding AS c_vec FROM embeddings "
    "QUALIFY row_number() OVER (ORDER BY vec_id) <= "
    "(SELECT n_lists FROM ll)), "
)
# corpus -> nearest injected centroid by exact e12 d2, ties -> lowest
# list: ``amin(n_id, list_id)``, the twin of similarity.assign_lists_e12
_INJECTED_ASSIGN_CTES = (
    "asg AS (SELECT e.vec_id AS n_id, c.list_id, "
    + _D2_E12_SQL.format(a="e.embedding", b="c.c_vec")
    + " AS d2 FROM embeddings e CROSS JOIN cent c), "
    "amin AS (SELECT n_id, list_id FROM asg QUALIFY row_number() OVER "
    "(PARTITION BY n_id ORDER BY d2 ASC, list_id ASC) = 1), "
)


@query(
    "q48_cosine_topk",
    oracle=(
        "WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, "
        + _NORM_E12_SQL.format(v="embedding")
        + " AS q_norm FROM embeddings WHERE vec_id < 10), "
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec, "
        + _NORM_E12_SQL.format(v="embedding")
        + " AS n_norm FROM embeddings), "
        "scored AS (SELECT q_id, n_id, "
        "CAST(" + _DOT_E12_SQL.format(a="q_vec", b="n_vec") + " AS DOUBLE) / "
        "(sqrt(CAST(q_norm AS DOUBLE)) * sqrt(CAST(n_norm AS DOUBLE))) AS cosine "
        "FROM c, q WHERE n_id != q_id) "
        "SELECT q_id, CAST(row_number() OVER "
        "(PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rank, "
        "n_id, cosine FROM scored "
        "QUALIFY rank <= 5 ORDER BY q_id, rank"
    ),
    description=(
        "Q48: exact top-5 cosine neighbors for 10 query vectors — the "
        "brute-force reference path: the bounded query set ships in the "
        "task closure and every corpus partition scores locally in one "
        "Arrow numpy pass (O(N·Q), no shuffle before the per-query top-k "
        "window). Scaled-int dot/norms (half-away-from-zero rounding "
        "replicated exactly in numpy) keep the cosine bit-identical "
        "cross-engine."
    ),
    tags=("llm",),
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return (
        cosine_topk_exact(emb, emb.where(F.col("vec_id") < 10), k=5)
        .orderBy("q_id", "rank")
    )


@query(
    "q48f_knn_label_audit",
    oracle=(
        "WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, "
        + _NORM_E12_SQL.format(v="embedding")
        + " AS q_norm FROM embeddings WHERE vec_id < 100), "
        "c AS (SELECT vec_id AS n_id, embedding AS n_vec, "
        + _NORM_E12_SQL.format(v="embedding")
        + " AS n_norm FROM embeddings), "
        "scored AS (SELECT q_id, n_id, "
        "CAST(" + _DOT_E12_SQL.format(a="q_vec", b="n_vec") + " AS DOUBLE) / "
        "(sqrt(CAST(q_norm AS DOUBLE)) * sqrt(CAST(n_norm AS DOUBLE))) AS cosine "
        "FROM c, q WHERE n_id != q_id), "
        "topk AS (SELECT q_id, n_id FROM scored QUALIFY row_number() OVER "
        "(PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) <= 5), "
        "votes AS (SELECT t.q_id, e.label AS n_label FROM topk t "
        "JOIN embeddings e ON e.vec_id = t.n_id), "
        "own AS (SELECT vec_id AS q_id, label AS own_label FROM embeddings "
        "WHERE vec_id < 100), "
        "maj AS (SELECT q_id, n_label, COUNT(*) AS cnt FROM votes "
        "GROUP BY q_id, n_label), "
        "top AS (SELECT q_id, n_label AS majority_label, "
        "CAST(cnt AS BIGINT) AS majority_count FROM maj QUALIFY "
        "row_number() OVER (PARTITION BY q_id ORDER BY cnt DESC, "
        "n_label ASC) = 1), "
        "agree AS (SELECT v.q_id, CAST(SUM(CASE WHEN v.n_label = o.own_label "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_agree "
        "FROM votes v JOIN own o USING (q_id) GROUP BY v.q_id) "
        "SELECT q_id, own_label, majority_label, majority_count, n_agree, "
        "majority_label = own_label AS is_consistent "
        "FROM own JOIN top USING (q_id) JOIN agree USING (q_id) "
        "ORDER BY q_id"
    ),
    description=(
        "Q48f: k-NN label audit — annotation-QA / label-noise detection "
        "over the labeled embedding corpus: each audited example's label "
        "is compared against the majority label of its exact top-5 cosine "
        "neighbors (majority ties break to the smallest label — "
        "deterministic integer semantics end to end, full value oracle). "
        "Examples whose neighborhood outvotes their own label "
        "(is_consistent = false) are the mislabel/ambiguity candidates a "
        "curation pipeline routes to re-annotation. Scale shape: the "
        "neighbor stage is the q48 broadcast-scored exact top-k here "
        "(audited slice broadcast, corpus unshuffled); at 100 TB the same "
        "audit composes with the prebuilt IVF index (q48d) as its "
        "neighbor source — the voting/aggregation stages are unchanged "
        "and shuffle only (q_id, label) pairs, k rows per audited "
        "example."
    ),
    tags=("llm",),
)
def q48f(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = tables(spark, sf_dir)["embeddings"]
    labels = emb.select("vec_id", "label")
    nb = cosine_topk_exact(
        emb, emb.where(F.col("vec_id") < 100), k=5
    ).select("q_id", "n_id")
    votes = nb.join(
        labels.select(
            F.col("vec_id").alias("n_id"), F.col("label").alias("n_label")
        ),
        "n_id",
    )
    own = labels.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("own_label")
    )
    maj = votes.groupBy("q_id", "n_label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cnt").desc(), F.col("n_label").asc()
    )
    top = (
        maj.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            "q_id",
            F.col("n_label").alias("majority_label"),
            F.col("cnt").cast("long").alias("majority_count"),
        )
    )
    agree = (
        votes.join(own, "q_id")
        .groupBy("q_id")
        .agg(
            F.sum(
                F.when(F.col("n_label") == F.col("own_label"), 1).otherwise(0)
            ).cast("long").alias("n_agree")
        )
    )
    return (
        own.join(top, "q_id")
        .join(agree, "q_id")
        .select(
            "q_id", "own_label", "majority_label", "majority_count",
            "n_agree",
            (F.col("majority_label") == F.col("own_label")).alias(
                "is_consistent"
            ),
        )
        .orderBy("q_id")
    )


def _embedding_dedup_pairs(spark: SparkSession, sf_dir: str):
    """Shared q47c/q47f pipeline: (corpus, near-dup pairs) over the
    embeddings table with planted perturbed copies — one definition of
    the corpus construction, blocking params, and the 0.95 cosine gate
    so the pair view cannot drift between the pair query and the apply
    query."""
    from ..operators.similarity import sign_band_neardup_pairs
    from ..scratch import materialize_once, scratch_path

    def _write(path: str) -> None:
        t = tables(spark, sf_dir)
        emb = t["embeddings"].select("vec_id", "embedding")
        perturbed = emb.where(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, (x.cast("double") + 0.01).cast("float"))
                .otherwise(x),
            ).alias("embedding"),
        )
        emb.unionAll(perturbed).write.mode("overwrite").parquet(path)

    # materialized once per sf_dir (same rationale/pattern as
    # _dedup_corpus: the planted union is scaffolding; parquet float
    # arrays round-trip bit-exactly, so oracle parity is unaffected)
    path = materialize_once(scratch_path("embedding_corpus", sf_dir), _write)
    corpus = spark.read.parquet(path)
    pairs = sign_band_neardup_pairs(corpus, "vec_id", "embedding", 0.95)
    return corpus, pairs


_Q47C_PAIR_CTES = (
    "corpus AS (SELECT vec_id, embedding FROM embeddings "
    "UNION ALL SELECT vec_id + 10000 AS vec_id, "
    "list_transform(range(1, len(embedding) + 1), i -> CAST(CASE WHEN i = 1 "
    "THEN CAST(embedding[1] AS DOUBLE) + 0.01 ELSE CAST(embedding[i] AS DOUBLE) "
    "END AS FLOAT)) AS embedding FROM embeddings WHERE vec_id % 5 = 0), "
    "n AS (SELECT vec_id, embedding, "
    + _NORM_E12_SQL.format(v="embedding")
    + " AS nrm FROM corpus), "
    "cpairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "CAST(" + _DOT_E12_SQL.format(a="a.embedding", b="b.embedding")
    + " AS DOUBLE) / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) "
    "AS cosine FROM n a, n b WHERE a.vec_id < b.vec_id "
    "AND CAST(" + _DOT_E12_SQL.format(a="a.embedding", b="b.embedding")
    + " AS DOUBLE) / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) "
    ">= 0.95)"
)


@query(
    "q47c_embedding_neardup",
    oracle=(
        # exact all-pairs ground truth (oracle side only — the Spark side
        # generates candidates via LSH buckets and verifies exactly)
        f"WITH {_Q47C_PAIR_CTES} "
        "SELECT id_a, id_b, cosine FROM cpairs ORDER BY id_a, id_b"
    ),
    description=(
        "Q47c: embedding-cosine near-duplicate pairs (cosine >= 0.95) over "
        "a corpus with planted perturbed copies. Candidate generation is "
        "sign-band blocking (4 bands × 12 sign bits of fixed random "
        "projections — SimHash for vectors; see operators/similarity."
        "sign_band_neardup_pairs for why single-projection BRP-LSH "
        "degrades to all-pairs here), then EXACT scaled-int cosine "
        "verification decides membership. The oracle computes the exact "
        "all-pairs ground truth; a hash match therefore also certifies "
        "100% recall of the blocking stage."
    ),
    tags=("llm",),
)
def q47c(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, pairs = _embedding_dedup_pairs(spark, sf_dir)
    return pairs.orderBy("id_a", "id_b")


@query(
    "q47f_embedding_dedup_apply",
    oracle=(
        f"WITH RECURSIVE {_Q47C_PAIR_CTES}, "
        + closure_ctes("cpairs", "id_a", "id_b", "corpus", "vec_id") + ", "
        "csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS "
        "n_represented FROM lab GROUP BY cluster_id) "
        "SELECT l.vec_id, n.nrm AS norm_e12, s.n_represented "
        "FROM lab l JOIN n ON n.vec_id = l.vec_id "
        "JOIN csz s ON s.cluster_id = l.cluster_id "
        "WHERE l.vec_id = l.cluster_id ORDER BY l.vec_id"
    ),
    description=(
        "Q47f: END-TO-END embedding dedup application — q46d's survivor "
        "composition for the vector modality: sign-band near-dup pairs "
        "(q47c machinery, exact 0.95-cosine gate) → connected components "
        "over the pair graph → keep min(vec_id) per cluster → emit the "
        "deduplicated embedding corpus. Survivors carry their exact "
        "scaled-int norm (norm_e12 — the cross-engine-exact content "
        "fingerprint for a float vector) and n_represented (sums to the "
        "corpus size). The oracle computes all-pairs ground truth + a "
        "recursive-CTE closure, so a hash match certifies BOTH 100% "
        "blocking recall and the closure. Scale shape: everything "
        "upstream is the audited banded blocking + O(log d) label "
        "propagation; the apply step adds one survivor-label join and a "
        "cluster-size aggregate — no new all-pairs or driver-side stage."
    ),
    tags=("llm",),
)
def q47f(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components
    from ..operators.similarity import norm_e12

    corpus, pairs = _embedding_dedup_pairs(spark, sf_dir)
    comp = connected_components(
        pairs, src="id_a", dst="id_b",
        nodes=corpus.select("vec_id"), node_col="vec_id",
        nodes_unique=True,  # vec_id unique by corpus construction
        edges_unique=True,  # pair miner dedups, id_a < id_b
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_represented")
    )
    survivors = (
        comp.where(F.col("node") == F.col("cluster_id"))
        .select(F.col("node").alias("vec_id"), "cluster_id")
        .join(sizes, "cluster_id")
    )
    return (
        corpus.join(survivors, "vec_id")
        .select(
            "vec_id",
            norm_e12(F.col("embedding")).alias("norm_e12"),
            "n_represented",
        )
        .orderBy("vec_id")
    )


_SH5_SQL = (
    "CASE WHEN len(t) >= 5 THEN list_distinct(list_transform("
    "range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) "
    "ELSE [] END"
)


@query(
    "q47d_benchmark_decontamination",
    oracle=(
        f"WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents), "
        f"sh AS (SELECT doc_id, {_SH5_SQL} AS shs FROM tok), "
        "bench AS (SELECT DISTINCT u.shingle FROM sh, "
        "LATERAL unnest(shs) AS u(shingle) WHERE doc_id % 20 = 0), "
        "corpus AS (SELECT * FROM sh WHERE doc_id % 20 <> 0), "
        "contam AS (SELECT c.doc_id, COUNT(*) AS n_contaminated "
        "FROM corpus c, LATERAL unnest(shs) AS u(shingle) "
        "JOIN bench b ON b.shingle = u.shingle GROUP BY c.doc_id) "
        "SELECT c.doc_id, CAST(len(c.shs) AS BIGINT) AS n_shingles, "
        "CAST(COALESCE(ct.n_contaminated, 0) AS BIGINT) AS n_contaminated, "
        "CASE WHEN len(c.shs) = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
        "CAST(COALESCE(ct.n_contaminated, 0) AS DOUBLE) / len(c.shs) END "
        "AS contam_ratio, "
        "COALESCE(ct.n_contaminated, 0) >= 1 AS is_contaminated "
        "FROM corpus c LEFT JOIN contam ct ON ct.doc_id = c.doc_id "
        "ORDER BY c.doc_id"
    ),
    description=(
        "Q47d: benchmark decontamination — the training-pipeline pass that "
        "drops documents sharing any word-5-gram with an evaluation set "
        "(here: the deterministic doc_id % 20 == 0 split standing in for "
        "the benchmark corpus). The benchmark's distinct shingle set is "
        "SMALL by nature (eval sets are MBs while the corpus is TBs), so "
        "it is broadcast: the corpus-side shingle explosion joins against "
        "it map-side with zero shuffle of corpus text; the only shuffle "
        "is the per-doc count aggregation on doc_id. Reports per-doc "
        "shingle counts, contaminated-shingle counts, ratio, and the "
        "any-overlap drop flag."
    ),
    tags=("llm",),
)
def q47d(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    # Two-step select: `shingles` references its token array 3× (one of
    # them inside the per-element slice lambda), so passing the raw
    # tokens *expression* would re-run normalize+split per shingle —
    # measured 10× slower at sf0.1. An attribute boundary makes it
    # once-per-row. Persisted because BOTH branches (benchmark shingle
    # set, corpus explosion) consume it — one text scan, and the derived
    # filters stay over the cached attribute instead of re-inlining the
    # shingle expression into pushed-down predicates (whose codegen
    # compile alone costs seconds).
    d = t["documents"].select(
        "doc_id", tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.array_distinct(shingles(F.col("toks"), 5)).alias("shs"),
    ).persist()
    bench = (
        d.where(F.col("doc_id") % 20 == 0)
        .select(F.explode("shs").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # One pass over the corpus text: explode_outer keeps docs shorter than
    # one shingle (null shingle never joins; count(shingle) skips it), so
    # n_shingles and n_contaminated come from the SAME aggregation — no
    # join back to a separately computed sizes frame, no re-shingling.
    ex = (
        d.where(F.col("doc_id") % 20 != 0)
        .select("doc_id", F.explode_outer("shs").alias("shingle"))
    )
    agg = (
        ex.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("shingle").alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
        )
    )
    n_sh, n_contam = F.col("n_shingles"), F.col("n_contaminated")
    return agg.select(
        "doc_id",
        n_sh.cast("long").alias("n_shingles"),
        n_contam.cast("long").alias("n_contaminated"),
        F.when(n_sh == 0, F.lit(0.0))
        .otherwise(n_contam.cast("double") / n_sh)
        .alias("contam_ratio"),
        (n_contam >= 1).alias("is_contaminated"),
    ).orderBy("doc_id")


@query(
    "q48b_ann_lsh_topk",
    oracle=None,  # random-projection buckets are not SQL-expressible;
    # rows-only check + recall-vs-exact assertion in tests/test_llm_ops.py
    description=(
        "Q48b: approximate top-5 neighbors via BucketedRandomProjectionLSH "
        "over L2-normalized vectors (unit sphere: euclidean rank == cosine "
        "rank). Bucket joins only — the ANN scale path when Q is large; "
        "fixed seed, recall checked against q48 in tests."
    ),
    tags=("llm", "approx"),
)
def q48b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return (
        ann_topk_lsh(emb, emb.where(F.col("vec_id") < 10), k=5)
        .select("q_id", "rank", "n_id")
        .orderBy("q_id", "rank")
    )


@query(
    "q48c_ivf_topk",
    oracle=None,  # rows-only + recall-vs-exact assertion in
    # tests/test_llm_ops.py. The exemption is NARROW (r14 state): of the
    # whole IVF pipeline only the SEEDED SAMPLE DRAW and the
    # convergence/ITERATION-COUNT POLICY of the k-means fit lack a value
    # oracle. Everything else is hash-verified under injected
    # deterministic centroids: assignment/probe selection/size
    # aggregation/scan_frac by q48g_ivf_scan_stats (queries/scan_stats.py),
    # the probed exact-cosine top-k by q48h (queries/ann_exact.py), and
    # one full Lloyd update step (assign + recompute, exact e12 integer
    # matmul) by q130 (queries/lloyd_step.py, registered r14).
    description=(
        "Q48c: IVF-style ANN — sample-fit k-means quantization into "
        "√N corpus-scaled inverted lists; the probe width is calibrated "
        "on the fit sample to hold recall@5 ≥ 0.9 (v4 operating point, "
        "VERDICT r8 #2: the old fixed 16/4 point decayed to 0.48 recall "
        "at sf0.1), then exact scaled-int cosine re-ranks candidates. "
        "Fixed seed; recall floor ≥ 0.7 pinned in tests and the bench "
        "record carries the measured (recall, scan-fraction) pair — on "
        "the near-uniform synthetic embeddings holding the target costs "
        "~half of brute-force scoring; on clusterable corpora the same "
        "calibration lands at a few probes (mechanism pinned in tests)."
    ),
    tags=("llm", "approx"),
)
def q48c(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return (
        ivf_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
        .select("q_id", "rank", "n_id")
        .orderBy("q_id", "rank")
    )


@query(
    "q48d_ivf_prebuilt",
    oracle=None,  # rows-only + an exact prebuilt==inline equality
    # assertion in tests/test_llm_ops.py; the exemption covers ONLY the
    # seeded sample draw + iteration-count policy of the fit — the
    # post-fit machinery is full-value-oracled by q48g/q48h/q130
    # (see the q48c note)
    description=(
        "Q48d: ANN against a PREBUILT IVF index — the 100 TB serving "
        "shape: the quantizer fit + full-corpus assignment pass runs once "
        "offline (ivf_build_index → centroids parquet + assignments "
        "partitioned BY list id + the calibrated operating point in a "
        "params table), and the query path only broadcasts the tiny "
        "centroid table, partition-prunes to its probed lists, and "
        "exact-cosine re-ranks at the probe width the BUILD calibrated "
        "for its recall target. Same seed/params as q48c, so the result "
        "is identical — tests assert probe-of-prebuilt == inline-built."
    ),
    tags=("llm", "approx"),
)
def q48d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_build_index, ivf_probe_prebuilt
    from ..scratch import materialize_once, scratch_path

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    # the scratch key carries the package's code fingerprint, so an index
    # built by other quantizer code is never reused (it would diverge
    # from q48c)
    path = materialize_once(
        scratch_path("q48d_ivf_index", sf_dir),
        lambda p: ivf_build_index(emb, p),
    )
    return (
        ivf_probe_prebuilt(spark, path, emb.where(F.col("vec_id") < 10), k=5)
        .select("q_id", "rank", "n_id")
        .orderBy("q_id", "rank")
    )


@query(
    "q48e_signgrid_ann",
    oracle=(
        "WITH c AS (SELECT vec_id, embedding, "
        + _NORM_E12_SQL.format(v="embedding")
        + " AS nrm FROM embeddings), "
        "coded AS (SELECT vec_id, embedding, nrm, band, "
        "CAST(list_sum(list_transform(range(0, 7), t -> "
        "CASE WHEN embedding[band * 7 + t + 1] > 0 THEN (1 << t) ELSE 0 END)) "
        "AS BIGINT) AS code "
        "FROM c CROSS JOIN (VALUES "
        + ", ".join(f"({j})" for j in range(9))
        + ") AS b(band)), "
        # Hamming-1 multi-probe ring, QUERY side only (mirrors
        # signgrid_ann_topk's coded(probe=True)): bit = -1 keeps the
        # exact code, bit = 0..6 flips one sign bit — closed-form XOR,
        # so the oracle stays a pure projection
        "q AS (SELECT vec_id, embedding, nrm, band, "
        "CASE WHEN p.bit < 0 THEN code "
        "ELSE CAST(xor(code, CAST(1 << p.bit AS BIGINT)) AS BIGINT) END AS code "
        "FROM coded CROSS JOIN (VALUES "
        + ", ".join(f"({b})" for b in range(-1, 7))
        + ") AS p(bit) WHERE vec_id < 10), "
        "scored AS (SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id, "
        "CAST(" + _DOT_E12_SQL.format(a="q.embedding", b="n.embedding")
        + " AS DOUBLE) / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(n.nrm AS DOUBLE)))"
        " AS cosine "
        "FROM coded n JOIN q ON n.band = q.band AND n.code = q.code "
        "AND n.vec_id != q.vec_id) "
        "SELECT q_id, CAST(row_number() OVER "
        "(PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rank, "
        "n_id, cosine FROM scored QUALIFY rank <= 5 ORDER BY q_id, rank"
    ),
    description=(
        "Q48e: sign-grid ANN at the 9-band × 7-bit Hamming-1 multi-probe "
        "operating point (promoted r7 per the r6 sweep: recall@5 = "
        "0.78/0.78/0.84 at sf0.001/0.01/0.1 for ~44% of brute-force "
        "scoring — it DOMINATES the 16×4 exact point, which paid ~65% "
        "candidates for 0.88-0.92; the r6-shipped 11×5 exact point was "
        "0.62-0.70 at ~30%). Band j's bucket code is the sign bits of "
        "coordinates 7j..7j+6; the query side also probes every code one "
        "bit-flip away (a closed-form XOR ring, 8 broadcast rows per "
        "band), so a band matches when codes differ in ≤1 bit; exact "
        "scaled-int cosine re-ranks top-5. Deterministic blocking (no "
        "RNG, no fit) ⇒ the ONE ANN-family member whose end-to-end "
        "result the driver hash-verifies against a DuckDB oracle; "
        "queries broadcast, corpus joins shuffle-free."
    ),
    tags=("llm", "approx"),
)
def q48e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import signgrid_ann_topk

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return (
        signgrid_ann_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# Q49 — text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "and", "of", "is", "in", "to", "a", "it"]
_LANG_PROFILES = {
    "de": ["der", "die", "und", "ist", "das"],
    "en": ["the", "and", "of", "is", "in"],
    "es": ["el", "los", "y", "es", "una"],
    "fr": ["le", "la", "et", "est", "les"],
}


@query(
    "q49_text_stats",
    oracle=(
        f"WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks, "
        f"length({_NORM_SQL}) AS n_chars_norm FROM documents) "
        "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
        "CAST(n_chars_norm AS BIGINT) AS n_chars_norm, "
        "CAST(n_chars_norm - (len(toks) - 1) AS DOUBLE) / len(toks) AS avg_tok_len, "
        "CAST(ceil(n_chars_norm / 4.0) AS BIGINT) AS est_bpe_tokens, "
        "CAST(len(list_filter(toks, x -> list_contains("
        "['the','and','of','is','in','to','a','it'], x))) AS BIGINT) AS stop_hits, "
        "CAST(len(list_filter(toks, x -> list_contains("
        "['the','and','of','is','in','to','a','it'], x))) AS DOUBLE) / len(toks) "
        "AS stop_ratio, "
        "(len(toks) BETWEEN 5 AND 500) AND "
        "((CAST(n_chars_norm - (len(toks) - 1) AS DOUBLE) / len(toks)) "
        "BETWEEN 2 AND 12) AS is_quality "
        "FROM t ORDER BY doc_id"
    ),
    description=(
        "Q49: per-document text statistics — token count, normalized char "
        "count, exact average token length (chars minus separators over "
        "count: integer-derived), chars/4 BPE-ish token estimate, stopword "
        "hits/ratio, and a quality flag (length + token-shape gates). All "
        "JVM-side builtins; the full-corpus quality filter is one "
        "predicate on these columns."
    ),
    tags=("llm",),
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    # normalize once per row (tokens = split(normalize) would otherwise
    # run the regex twice: once inside tokens, once for the length)
    d = t["documents"].select(
        "doc_id", normalize_text("text").alias("norm")
    ).select(
        "doc_id",
        F.split("norm", " ").alias("toks"),
        F.length("norm").alias("n_chars_norm"),
    )
    n_tok = F.size("toks")
    avg_len = (F.col("n_chars_norm") - (n_tok - 1)).cast("double") / n_tok
    stop_hits = F.size(F.filter(F.col("toks"), lambda x: x.isin(_STOPWORDS)))
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.col("n_chars_norm").cast("long").alias("n_chars_norm"),
        avg_len.alias("avg_tok_len"),
        F.ceil(F.col("n_chars_norm") / 4.0).cast("long").alias("est_bpe_tokens"),
        stop_hits.cast("long").alias("stop_hits"),
        (stop_hits.cast("double") / n_tok).alias("stop_ratio"),
        (n_tok.between(5, 500) & avg_len.between(2, 12)).alias("is_quality"),
    ).orderBy("doc_id")


@query(
    "q49b_length_histogram",
    oracle=(
        "SELECT lang, n_chars // 100 AS bucket, COUNT(*) AS n_docs, "
        "MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars "
        "FROM documents GROUP BY lang, bucket ORDER BY lang, bucket"
    ),
    description=(
        "Q49b: document-length distribution per language (100-char "
        "buckets) — the corpus-profiling aggregate; map-side combinable, "
        "output cardinality is langs × buckets regardless of corpus size."
    ),
    tags=("llm",),
)
def q49b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang", F.expr("n_chars div 100").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "bucket")
    )


def _lang_scores_sql() -> str:
    parts = []
    for lang, words in _LANG_PROFILES.items():
        lst = "[" + ",".join(f"'{w}'" for w in words) + "]"
        parts.append(
            f"CAST(len(list_filter(toks, x -> list_contains({lst}, x))) AS BIGINT)"
            f" AS s_{lang}"
        )
    return ", ".join(parts)


@query(
    "q49c_language_id",
    oracle=(
        f"WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents), "
        f"s AS (SELECT doc_id, lang, {_lang_scores_sql()} FROM t) "
        "SELECT doc_id, lang AS actual, s_de, s_en, s_es, s_fr, "
        "CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und' "
        "WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de' "
        "WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en' "
        "WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es' "
        "ELSE 'fr' END AS predicted "
        "FROM s ORDER BY doc_id"
    ),
    description=(
        "Q49c: language identification by stopword-profile scoring — count "
        "profile hits per language over the token bag, argmax with a fixed "
        "alphabetical tie-break, 'und' when nothing matches. The n-gram-"
        "profile generalization swaps the token lists for char-n-gram "
        "lists; the plan shape (one projection, no shuffle) is identical."
    ),
    tags=("llm",),
)
def q49c(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    d = t["documents"].select("doc_id", F.col("lang").alias("actual"),
                              tokens("text").alias("toks"))
    def hits(words: list[str]):
        # NB: a `lambda x, w=words:` shortcut would be read by F.filter as
        # the two-arg (element, index) lambda form — closure factory instead
        return F.size(F.filter(F.col("toks"), lambda x: x.isin(words))).cast("long")

    scores = {lang: hits(words) for lang, words in _LANG_PROFILES.items()}
    d = d.select("doc_id", "actual",
                 *[c.alias(f"s_{lang}") for lang, c in scores.items()])
    m = F.greatest(*[F.col(f"s_{lang}") for lang in _LANG_PROFILES])
    predicted = (
        F.when(m == 0, "und")
        .when(F.col("s_de") == m, "de")
        .when(F.col("s_en") == m, "en")
        .when(F.col("s_es") == m, "es")
        .otherwise("fr")
    )
    return d.withColumn("predicted", predicted).orderBy("doc_id")


@query(
    "q49d_doc_fingerprint",
    oracle=(
        f"WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) "
        "SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(toks, t -> " + _TOKHASH_SQL.format(t="t") + ")), "
        f"(acc, h) -> (acc * {ROLLING_BASE} + h) % {ROLLING_MOD}) AS BIGINT) "
        "AS fingerprint "
        "FROM t ORDER BY doc_id"
    ),
    description=(
        "Q49d: order-sensitive document fingerprint — polynomial rolling "
        "hash folded over md5 token hashes (acc*31 + h mod 2^31-1). "
        "Unlike q46's content hash it distinguishes reordered docs; one "
        "projection, no shuffle."
    ),
    tags=("llm",),
)
def q49d(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .select("doc_id", rolling_fingerprint(tokens("text")).alias("fingerprint"))
        .orderBy("doc_id")
    )


def gates_ctes(rel: str, prefix: str = "") -> str:
    """The q49e gate CTE chain over relation ``rel`` (CTE names prefixed
    to compose inside larger oracles): ``{prefix}g`` exposes per-gate
    flags; ``kept = len_ok AND tok_shape_ok AND no_megatoken AND
    has_stopwords`` is selected by the caller."""
    return (
        f"{prefix}t AS (SELECT doc_id, {_TOKS_SQL} AS toks, "
        f"length({_NORM_SQL}) AS nc FROM {rel}), "
        f"{prefix}g AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
        "len(toks) >= 5 AS len_ok, "
        "(CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks)) BETWEEN 2 AND 12 "
        "AS tok_shape_ok, "
        "NOT EXISTS (SELECT 1 FROM unnest(toks) AS u(x) WHERE length(x) > 25) "
        "AS no_megatoken, "
        "len(list_filter(toks, x -> list_contains("
        "['the','and','of','is','in','to','a','it'], x))) >= 1 "
        "OR len(list_filter(toks, x -> list_contains("
        "['der','die','und','ist','das','el','los','y','es','una',"
        "'le','la','et','est','les'], x))) >= 1 AS has_stopwords "
        f"FROM {prefix}t)"
    )


@query(
    "q49e_quality_filter",
    oracle=(
        f"WITH {gates_ctes('documents')} "
        "SELECT doc_id, n_tokens, len_ok, tok_shape_ok, no_megatoken, "
        "has_stopwords, "
        "len_ok AND tok_shape_ok AND no_megatoken AND has_stopwords AS kept "
        "FROM g ORDER BY doc_id"
    ),
    description=(
        "Q49e: C4-style corpus cleaning — per-document quality gates "
        "(min length, sane mean token length, no >25-char megatokens, "
        "any-language stopword evidence) with per-gate audit flags and "
        "the combined keep decision. One projection, no shuffle, no UDF; "
        "the retained corpus is `WHERE kept` and each drop is "
        "attributable to its gate — the filter-with-audit shape a 100 TB "
        "cleaning pass needs (you never get to ask 'why was this doc "
        "dropped' twice)."
    ),
    tags=("llm",),
)
def q49e(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    return quality_gates(t["documents"].select("doc_id", "text")).orderBy("doc_id")


def quality_gates(df: DataFrame) -> DataFrame:
    """The q49e C4-style gate projection over any (doc_id, text) frame —
    ONE definition so the standalone audit query and the q54 full
    pipeline cannot drift. Returns (doc_id, n_tokens, len_ok,
    tok_shape_ok, no_megatoken, has_stopwords, kept)."""
    all_stop = (_STOPWORDS
                + _LANG_PROFILES["de"] + _LANG_PROFILES["es"]
                + _LANG_PROFILES["fr"])
    d = df.select(
        "doc_id", normalize_text("text").alias("norm")
    ).select(
        "doc_id",
        F.split("norm", " ").alias("toks"),
        F.length("norm").alias("nc"),
    )
    n_tok = F.size("toks")
    avg_len = (F.col("nc") - (n_tok - 1)).cast("double") / n_tok
    # NB: closure-free lambdas — isin on a literal list stays JVM-side
    stop_en = F.size(F.filter(F.col("toks"), lambda x: x.isin(_STOPWORDS)))
    stop_any = F.size(F.filter(F.col("toks"), lambda x: x.isin(all_stop)))
    gates = d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        (n_tok >= 5).alias("len_ok"),
        avg_len.between(2, 12).alias("tok_shape_ok"),
        (~F.exists(F.col("toks"), lambda x: F.length(x) > 25)).alias("no_megatoken"),
        ((stop_en >= 1) | (stop_any >= 1)).alias("has_stopwords"),
    )
    return gates.withColumn(
        "kept",
        F.col("len_ok") & F.col("tok_shape_ok")
        & F.col("no_megatoken") & F.col("has_stopwords"),
    )


@query(
    "q49f_repetition_ratio",
    oracle=(
        f"WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
        "s AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN "
        "list_transform(range(1, len(toks) - 1), i -> "
        "array_to_string(toks[i:i+2], ' ')) ELSE [] END AS sh FROM t) "
        "SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles, "
        "CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct, "
        "CASE WHEN len(sh) = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
        "1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) END "
        "AS rep_ratio, "
        "CASE WHEN len(sh) = 0 THEN FALSE ELSE "
        "1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) > 0.2 END "
        "AS is_repetitive FROM s ORDER BY doc_id"
    ),
    description=(
        "Q49f: within-document repetition (Gopher-style quality signal) — "
        "duplicate word-3-gram fraction: 1 - distinct/total shingles. "
        "Boilerplate and degenerate generated text score high; docs "
        "shorter than one shingle score 0. Pure array builtins per row, "
        "no shuffle — composable with q49e's gates as one cleaning pass."
    ),
    tags=("llm",),
)
def q49f(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    # Attribute boundary before `shingles` (see q47d): once-per-row split.
    d = t["documents"].select(
        "doc_id", tokens("text").alias("toks")
    ).select(
        "doc_id", shingles(F.col("toks"), 3).alias("sh")
    )
    n_sh = F.size("sh")
    n_dist = F.size(F.array_distinct("sh"))
    ratio = F.when(n_sh == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - n_dist.cast("double") / n_sh
    )
    return d.select(
        "doc_id",
        n_sh.cast("long").alias("n_shingles"),
        n_dist.cast("long").alias("n_distinct"),
        ratio.alias("rep_ratio"),
        F.when(n_sh == 0, F.lit(False)).otherwise(
            F.lit(1.0) - n_dist.cast("double") / n_sh > 0.2
        ).alias("is_repetitive"),
    ).orderBy("doc_id")


_SAMPLE_QUOTA = {"de": 50, "en": 80, "es": 30, "fr": 10}  # percent kept


@query(
    "q49g_stratified_sample",
    oracle=(
        "SELECT doc_id, lang, "
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
        "% 100 AS bucket_pct, "
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
        "% 100 < CASE lang WHEN 'de' THEN 50 WHEN 'en' THEN 80 "
        "WHEN 'es' THEN 30 WHEN 'fr' THEN 10 ELSE 0 END AS kept "
        "FROM documents ORDER BY doc_id"
    ),
    description=(
        "Q49g: deterministic stratified sampling — per-language keep "
        "quotas applied via md5(doc_id) mod 100 (identical in any engine, "
        "any partitioning, any rerun), NOT sampleBy's per-partition RNG: "
        "reproducible training mixtures need the sample to be a pure "
        "function of the row. One projection, no shuffle; the mixture is "
        "`WHERE kept` and changing quotas is a constant edit, not a "
        "re-shuffle."
    ),
    tags=("llm",),
)
def q49g(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    quota = F.lit(0)
    for lang, pct in _SAMPLE_QUOTA.items():
        quota = F.when(F.col("lang") == lang, pct).otherwise(quota)
    return (
        t["documents"]
        .select(
            "doc_id", "lang",
            bucket.alias("bucket_pct"),
            (bucket < quota).alias("kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "q49h_shard_assignment",
    oracle=(
        "WITH s AS (SELECT doc_id, lang, "
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
        "% 16 AS shard FROM documents) "
        "SELECT doc_id, lang, shard, "
        "CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) "
        "AS pos_in_shard, "
        "CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS shard_size "
        "FROM s ORDER BY doc_id"
    ),
    description=(
        "Q49h: deterministic output sharding — the last stage of a "
        "training-data pipeline assigns every document a shard via "
        "md5(doc_id) mod n_shards (a pure function of the row: identical "
        "on reruns, engines, partitionings — unlike round-robin "
        "repartition) plus its position within the shard. This IS the "
        "write plan: one shuffle on the shard key then a within-shard "
        "sort, exactly what `repartition(shard).sortWithinPartitions` "
        "does before writing n_shards training files; shard_size makes "
        "skew visible before the write."
    ),
    tags=("llm",),
)
def q49h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = tables(spark, sf_dir)
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 16
    )
    w = Window.partitionBy("shard")
    return (
        t["documents"]
        .select("doc_id", "lang", shard.alias("shard"))
        .select(
            "doc_id", "lang", "shard",
            F.row_number().over(w.orderBy("doc_id")).cast("long")
            .alias("pos_in_shard"),
            F.count("*").over(w).cast("long").alias("shard_size"),
        )
        .orderBy("doc_id")
    )


# GPT-2-style pretokenizer over normalized (lowercase, single-space) text:
# contraction suffixes, space-prefixed word runs, digit runs, punctuation
# runs. Restricted to constructs Java regex and RE2 interpret identically
# (no lookaround, leftmost-first alternation in both).
_BPE_PAT = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ']+"
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")


# The corpus is alpha-only; without digits/punctuation the pretokenizer
# degenerates to whitespace splitting (a vacuous pass). A deterministic
# version/build suffix exercises the digit-run and punctuation-run branches
# — constructed identically in both engines, like the dedup corpus.
_BPE_AUG_SQL = (
    "text || ' rev ' || doc_id || '.0 build-' || (doc_id % 97) AS text"
)


@query(
    "q49i_bpe_pretokenize",
    oracle=(
        f"WITH aug AS (SELECT doc_id, {_BPE_AUG_SQL} FROM documents), "
        f"n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM aug), "
        "b AS (SELECT doc_id, length(norm) AS nc, "
        "len(string_split(norm, ' ')) AS n_words, "
        f"regexp_extract_all(norm, '{_BPE_PAT_SQL}', 0) AS bpe FROM n) "
        "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, "
        "CAST(len(bpe) AS BIGINT) AS n_bpe, "
        "CAST(len(list_distinct(bpe)) AS BIGINT) AS n_bpe_distinct, "
        "CASE WHEN len(bpe) = 0 THEN CAST(0.0 AS DOUBLE) "
        "ELSE CAST(nc AS DOUBLE) / len(bpe) END AS chars_per_token "
        "FROM b ORDER BY doc_id"
    ),
    description=(
        "Q49i: token counting with a BPE-style regex pretokenizer — the "
        "pre-merge segmentation step of GPT-2-family tokenizers (contraction "
        "suffixes / space-prefixed word / digit / punctuation runs), giving "
        "a far better token-budget estimate than whitespace counts. Pure "
        "JVM regexp_extract_all projection: no shuffle, no UDF; the "
        "pattern is restricted to the Java-regex ∩ RE2 common subset so "
        "the oracle segments identically."
    ),
    tags=("llm",),
)
def q49i(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"), F.lit(" rev "), did.cast("string"),
        F.lit(".0 build-"), (did % 97).cast("string"),
    )
    d = t["documents"].select(
        "doc_id", normalize_text(aug).alias("norm")
    ).select(
        "doc_id",
        F.length("norm").alias("nc"),
        F.size(F.split("norm", " ")).alias("n_words"),
        F.regexp_extract_all(F.col("norm"), F.lit(_BPE_PAT), F.lit(0)).alias("bpe"),
    )
    n_bpe = F.size("bpe")
    return d.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        n_bpe.cast("long").alias("n_bpe"),
        F.size(F.array_distinct("bpe")).cast("long").alias("n_bpe_distinct"),
        F.when(n_bpe == 0, F.lit(0.0))
        .otherwise(F.col("nc").cast("double") / n_bpe)
        .alias("chars_per_token"),
    ).orderBy("doc_id")


# PII patterns in the Java-regex ∩ RE2 common subset (\b word boundaries,
# bounded repeats, character classes — no lookaround).
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE = r"\b[0-9]{3}-[0-9]{4}\b"

# The synthetic corpus has no PII, so the query plants it deterministically
# (same construction in both engines — the dedup-corpus pattern): every
# 7th doc an email, phone, or IPv4 host line appended from doc_id.
_PII_AUG_SQL = (
    "CASE doc_id % 7 "
    "WHEN 0 THEN text || ' contact user' || doc_id || '@example.com now' "
    "WHEN 1 THEN text || ' call ' || (200 + doc_id % 700) || '-' || "
    "(1000 + doc_id % 9000) || ' today' "
    "WHEN 2 THEN text || ' host 10.' || (doc_id % 256) || '.' || "
    "((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256) || ' up' "
    "ELSE text END"
)


@query(
    "q49j_pii_redaction",
    oracle=(
        f"WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents), "
        "red AS (SELECT doc_id, "
        f"CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails, "
        f"CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT) AS n_ips, "
        f"CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones, "
        "regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{_PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{_PII_IP}', '<IP>', 'g'), "
        f"'{_PII_PHONE}', '<PHONE>', 'g') AS redacted FROM aug) "
        "SELECT doc_id, n_emails, n_ips, n_phones, "
        "n_emails + n_ips + n_phones = 0 AS is_clean, "
        "sha256(redacted) AS redacted_sha FROM red ORDER BY doc_id"
    ),
    description=(
        "Q49j: PII detection + redaction — email/IPv4/phone regex scrub "
        "with per-class counts, a clean flag, and sha256 of the redacted "
        "text (the hash proves byte-exact replacement parity, not just "
        "matching counts). Patterns live in the Java-regex ∩ RE2 subset; "
        "replacements apply in a fixed order. Pure projection: no "
        "shuffle, no UDF — at 100 TB this runs at scan speed."
    ),
    tags=("llm",),
)
def q49j(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    did = F.col("doc_id")
    aug = (
        F.when(did % 7 == 0, F.concat(
            F.col("text"), F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com now")))
        .when(did % 7 == 1, F.concat(
            F.col("text"), F.lit(" call "), (did % 700 + 200).cast("string"),
            F.lit("-"), (did % 9000 + 1000).cast("string"), F.lit(" today")))
        .when(did % 7 == 2, F.concat(
            F.col("text"), F.lit(" host 10."), (did % 256).cast("string"),
            F.lit("."), ((did * 7) % 256).cast("string"),
            F.lit("."), ((did * 13) % 256).cast("string"), F.lit(" up")))
        .otherwise(F.col("text"))
    )
    d = t["documents"].select("doc_id", aug.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>"),
        _PII_PHONE, "<PHONE>")
    n_em = F.regexp_count(F.col("text"), F.lit(_PII_EMAIL)).cast("long")
    n_ip = F.regexp_count(F.col("text"), F.lit(_PII_IP)).cast("long")
    n_ph = F.regexp_count(F.col("text"), F.lit(_PII_PHONE)).cast("long")
    return d.select(
        "doc_id",
        n_em.alias("n_emails"),
        n_ip.alias("n_ips"),
        n_ph.alias("n_phones"),
        (n_em + n_ip + n_ph == 0).alias("is_clean"),
        F.sha2(redacted, 256).alias("redacted_sha"),
    ).orderBy("doc_id")


@query(
    "q49k_tfidf_topterms",
    oracle=(
        f"WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents), "
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term), "
        "df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term "
        "FROM tok) GROUP BY term), "
        "n AS (SELECT COUNT(*) AS n_docs FROM documents), "
        "scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, "
        "CAST(round(tf.tf * ln((CAST(n_docs AS DOUBLE) + 1.0) / "
        "(CAST(df.df AS DOUBLE) + 1.0)) * 1e6) AS BIGINT) AS score_e6 "
        "FROM tf JOIN df USING (term) CROSS JOIN n) "
        "SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id "
        "ORDER BY score_e6 DESC, term ASC) AS BIGINT) AS rank, "
        "term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score_e6 "
        "FROM scored QUALIFY rank <= 5 ORDER BY doc_id, rank"
    ),
    description=(
        "Q49k: TF-IDF top-5 terms per document — the keyword-extraction / "
        "quality-signal pass of a text pipeline. tf and df are exact "
        "integer aggregates (one shuffle each over (doc, term)); N is a "
        "broadcast scalar; idf = ln((N+1)/(df+1)) is the one "
        "transcendental, scaled to an integer score (round(x*1e6)) so "
        "ranking and the cross-engine hash compare are exact-int, with "
        "ties broken by term. The corpus's tiny synthetic vocabulary "
        "makes df large and discriminative."
    ),
    tags=("llm",),
)
def q49k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = tables(spark, sf_dir)
    tok = t["documents"].select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df reuses the SAME (doc, term) aggregate: distinct (doc, term) is
    # exactly tf's grouping — no second pass over the exploded tokens
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf", "df",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs").cast("double") + F.lit(1.0))
                    / (F.col("df").cast("double") + F.lit(1.0))
                )
                * 1e6
            ).cast("long").alias("score_e6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_e6").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("doc_id", "rank", "term",
                F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "score_e6")
        .orderBy("doc_id", "rank")
    )


@query(
    "q49l_vocab_coverage",
    oracle=(
        f"WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents), "
        "ex AS (SELECT unnest(t) AS tok FROM t), "
        "top AS (SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM ex "
        "GROUP BY tok ORDER BY c DESC, tok ASC LIMIT 100)), "
        "v AS (SELECT list_sort(list(tok)) AS vl FROM top) "
        "SELECT doc_id, "
        "CAST(len(t) AS BIGINT) AS n_tokens, "
        "CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct, "
        "CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS type_token_ratio, "
        "CAST(len(list_filter(t, x -> list_contains(vl, x))) AS BIGINT) "
        "AS vocab_hits, "
        "CAST(len(list_filter(t, x -> list_contains(vl, x))) AS DOUBLE) / len(t) "
        "AS vocab_coverage "
        "FROM t CROSS JOIN v ORDER BY doc_id"
    ),
    description=(
        "Q49l: vocabulary-coverage quality scoring — corpus top-100 "
        "vocabulary (count desc, token asc: deterministic ties) built "
        "with one aggregate + TakeOrdered top-K, broadcast as a single "
        "array row; per-doc coverage/type-token-ratio are then row-local "
        "array ops (no per-doc join). The OOV-rate gate of a training "
        "pipeline: low vocab_coverage flags gibberish/wrong-language "
        "docs; all-exact integer counts, int/int doubles — no log(), so "
        "cross-engine hashes match bit-for-bit."
    ),
    tags=("llm",),
)
def q49l(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)["documents"]
    toks = t.select("doc_id", tokens("text").alias("t"))
    # explode_outer + isNotNull (the q95 lesson): an INNER Generate over
    # the lazy tokens() chain makes InferFiltersFromGenerate synthesize
    # `size(t)>0 AND isnotnull(t)` with the whole split chain substituted
    # — evaluated per row ON TOP of the projection's own evaluation. The
    # outer Generate infers nothing; the explicit null filter restores
    # inner semantics exactly (split() elements are never null — only
    # the empty/null-array placeholder rows drop).
    vocab = (
        toks.select(F.explode_outer("t").alias("tok"))
        .where(F.col("tok").isNotNull())
        .groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(100)
        .agg(F.array_sort(F.collect_list("tok")).alias("vl"))
    )
    hits = F.size(F.filter("t", lambda x: F.array_contains(F.col("vl"), x)))
    return (
        toks.crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("t")).cast("long").alias("n_distinct"),
            (
                F.size(F.array_distinct("t")).cast("double") / F.size("t")
            ).alias("type_token_ratio"),
            hits.cast("long").alias("vocab_hits"),
            (hits.cast("double") / F.size("t")).alias("vocab_coverage"),
        )
        .orderBy("doc_id")
    )


@query(
    "q49m_bigram_lm_score",
    oracle=(
        f"WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents), "
        "big AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b "
        "FROM tok, LATERAL unnest(range(1, len(t))) AS u(i) "
        "WHERE len(t) >= 2), "
        "cab AS (SELECT a, b, COUNT(*) AS nab FROM big GROUP BY a, b), "
        "ca AS (SELECT a, COUNT(*) AS na FROM big GROUP BY a), "
        "terms AS (SELECT doc_id, "
        "round(ln(CAST(nab AS DOUBLE) / na), 6) AS lp "
        "FROM big JOIN cab USING (a, b) JOIN ca USING (a)) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
        + davg_sql("lp", "avg_logprob")
        + ", CAST(SUM(CAST(lp AS DECIMAL(30,6))) AS DOUBLE) / COUNT(lp) "
        ">= -4.0 AS is_fluent "
        "FROM terms GROUP BY doc_id ORDER BY doc_id"
    ),
    description=(
        "Q49m: bigram LM fluency score — the CCNet/perplexity-filter "
        "quality gate: train a maximum-likelihood bigram model ON the "
        "corpus itself (conditional p(b|a) = c(ab)/c(a·) from corpus "
        "counts), then score every document by its mean conditional "
        "log-probability; low scores flag disfluent/boilerplate/garbled "
        "text exactly as an external-LM perplexity filter would, with no "
        "model artifact to ship. Determinism: per-term round(ln, 6) "
        "(the q32-proven cross-engine ln discipline) + exact decimal-sum "
        "average. Scale shape: the count tables are vocabulary-bounded "
        "(bigram types, not occurrences) and map-side-combined, so both "
        "count joins broadcast (plan-asserted) and the probe stream "
        "NEVER shuffles on the Zipf-skewed prefix key — a window-over-"
        "prefix formulation would; prefix counts derive from the bigram "
        "counts (na = Σ_b nab), never a second corpus pass. The corpus "
        "text is read twice (probe stream + count build); a production "
        "pipeline materializes the count table once — it IS the model "
        "artifact — and reuses it across scoring runs (the q48d seam)."
    ),
    tags=("llm",),
)
def q49m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import bigram_lm_scores

    return (
        bigram_lm_scores(tables(spark, sf_dir)["documents"])
        .withColumn("is_fluent", F.col("avg_logprob") >= -4.0)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q50 — multimodal binary column
# ---------------------------------------------------------------------------


@query(
    "q50_multimodal_bytes",
    oracle=(
        "WITH m AS (SELECT doc_id, "
        "concat('mem://', source, '/', CAST(doc_id AS VARCHAR), '.txt') AS uri, "
        "'text/plain' AS mime, text, octet_length(encode(text)) AS n_bytes "
        "FROM documents) "
        "SELECT doc_id, uri, mime, hex(encode(substr(text, 1, 4))) AS magic, "
        "CAST(n_bytes AS BIGINT) AS n_bytes, "
        "CAST(list_sum(list_transform(range(1, length(text) + 1), i -> "
        "ord(substr(text, i, 1)))) AS BIGINT) AS byte_sum, "
        "CAST(list_sum(list_transform(range(1, length(text) + 1), i -> "
        "ord(substr(text, i, 1)))) AS DOUBLE) / n_bytes AS mean_byte, "
        "CAST(ord(substr(text, 1, 1)) AS BIGINT) AS first_byte, "
        "CAST(ord(substr(text, length(text), 1)) AS BIGINT) AS last_byte "
        "FROM m ORDER BY doc_id"
    ),
    description=(
        "Q50: multimodal column pattern — opaque binary payloads with "
        "typed metadata (uri/mime), format sniff (magic bytes), and an "
        "Arrow-batched mapInPandas feature extractor over the raw bytes "
        "(the seam where a real media decoder would run). "
        "The oracle recomputes byte stats from the ASCII source text."
    ),
    tags=("llm",),
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    media = attach_payload(t["documents"], "doc_id", "text", "source")
    feats = extract_byte_features(media)
    meta = media.select(
        "doc_id", "uri", "mime", payload_magic(F.col("payload")).alias("magic")
    )
    return (
        meta.join(feats, "doc_id")
        .select(
            "doc_id", "uri", "mime", "magic",
            "n_bytes", "byte_sum", "mean_byte", "first_byte", "last_byte",
        )
        .orderBy("doc_id")
    )


@query(
    "q50b_frame_sampling",
    oracle=(
        "WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS n "
        "FROM documents) "
        "SELECT doc_id, CAST(f.k AS BIGINT) AS frame_idx, "
        "CAST(f.k * greatest(1, n // 4) AS BIGINT) AS frame_pos, "
        "md5(substr(text, f.k * greatest(1, n // 4) + 1, 16)) AS frame_md5 "
        "FROM m, LATERAL unnest(range(0, 4)) AS f(k) "
        "ORDER BY doc_id, frame_idx"
    ),
    description=(
        "Q50b: frame sampling — one media row expands to 4 evenly-spaced "
        "frames via mapInPandas (deterministic byte slices standing in for "
        "the codec decode, which is the marked stub seam in operators/"
        "multimodal.sample_frame_batches); frame hashes verified against "
        "the oracle recomputing the same slices from the ASCII source."
    ),
    tags=("llm",),
)
def q50b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_payload_frames

    t = tables(spark, sf_dir)
    media = attach_payload(t["documents"], "doc_id", "text", "source")
    frames = sample_payload_frames(media, n_frames=4, frame_bytes=16)
    return (
        frames.select(
            "doc_id", "frame_idx", "frame_pos",
            F.md5("frame").alias("frame_md5"),
        )
        .orderBy("doc_id", "frame_idx")
    )


def _cdc_oracle_sql() -> str:
    from ..operators.multimodal import (
        CDC_BOUNDARY_DIV,
        CDC_MODULUS,
        CDC_WINDOW,
        cdc_pow_table,
    )

    pow_sql = "[" + ", ".join(str(v) for v in cdc_pow_table()) + "]"
    return (
        f"WITH corpus0 AS ({CORPUS_SQL}), "
        # The char-level rolling hash below equals the Spark UTF-8-byte
        # computation ONLY for pure-ASCII text (char == byte). Assert that
        # per row (behind a CTE boundary — DuckDB's binder refuses lateral
        # alias reuse of side-effecting expressions) so a future non-ASCII
        # testdata refresh fails loudly instead of silently
        # hash-mismatching the gate.
        "corpus AS (SELECT doc_id, CASE WHEN octet_length(encode(text)) = "
        "length(text) THEN text ELSE error('q50c oracle requires pure-"
        "ASCII text: char-level rolling hash != UTF-8 byte hash') END "
        "AS text FROM corpus0), "
        "pos AS (SELECT doc_id, text AS s, i, "
        f"((list_sum(list_transform(range(0, least({CDC_WINDOW}, i)), "
        "j -> CAST(ord(substr(s, CAST(i - j AS INT), 1)) AS BIGINT) * "
        f"CAST(({pow_sql})[CAST(j + 1 AS INT)] AS BIGINT))) % {CDC_MODULUS}) "
        f"% {CDC_BOUNDARY_DIV} = 0) AS bnd "
        "FROM corpus, LATERAL unnest(range(1, length(text) + 1)) AS u(i)), "
        "cidx AS (SELECT doc_id, s, i, "
        "SUM(CASE WHEN bnd THEN 1 ELSE 0 END) OVER "
        "(PARTITION BY doc_id ORDER BY i) "
        "- CASE WHEN bnd THEN 1 ELSE 0 END AS chunk_idx FROM pos), "
        "chunks AS (SELECT doc_id, chunk_idx, "
        "md5(string_agg(substr(s, CAST(i AS INT), 1), '' ORDER BY i)) "
        "AS chunk_hash FROM cidx GROUP BY doc_id, chunk_idx), "
        "occ AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd "
        "FROM chunks GROUP BY chunk_hash) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, "
        "CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_dup_chunks, "
        "CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) "
        "AS dup_chunk_ratio "
        "FROM chunks JOIN occ USING (chunk_hash) "
        "GROUP BY doc_id ORDER BY doc_id"
    )


@query(
    "q50c_cdc_chunk_dedup",
    oracle=_cdc_oracle_sql(),
    description=(
        "Q50c: content-defined chunking dedup over binary payloads — the "
        "rsync/LBFS pattern: chunk boundaries from a rolling content hash "
        "(boundary where H % 64 == 0, exact mod-p integer math, one "
        "np.convolve per payload in Arrow batches), chunk ids = md5 of "
        "the bytes, then corpus-wide chunk-occurrence counts give each "
        "doc its duplicated-chunk ratio. Byte-identical regions dedup "
        "across payloads even when surrounding bytes shift — the binary "
        "complement of the text dedup family (planted exact copies score "
        "ratio 1.0, near copies share all but their tail chunks). The "
        "oracle replays the identical hash over characters (ASCII "
        "testdata: char == byte) with the same literal power table."
    ),
    tags=("llm",),
)
def q50c(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import cdc_chunks

    corpus = _dedup_corpus(spark, sf_dir)
    media = corpus.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    # one explicit shuffle on chunk_hash: the occurrence aggregate and the
    # chunks↔occ join both read it back co-partitioned (ReusedExchange) —
    # the Arrow chunking stage runs once, not once per consumer
    ch = cdc_chunks(media).repartition("chunk_hash")
    occ = ch.groupBy("chunk_hash").agg(
        F.count_distinct(F.col("doc_id")).alias("nd")
    )
    return (
        ch.join(occ, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long").alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_chunk_ratio",
            F.col("n_dup_chunks").cast("double") / F.col("n_chunks"),
        )
        .orderBy("doc_id")
    )


__all__ = [
    "q46", "q46b", "q46c", "q46d", "q47", "q47b", "q47c", "q47d", "q47e", "q47f",
    "q48", "q48b", "q48c", "q48d", "q48e", "q48f",
    "q49", "q49b", "q49c", "q49d", "q49e", "q49f", "q49g", "q49h",
    "q49i", "q49j", "q49k", "q49l", "q49m",
    "q50", "q50b", "q50c",
]
