"""New r13 surface — q48h: full-value-oracle IVF top-k (injected centroids).

Shrinks the q48b/c/d ``no_oracle`` declaration to its true minimum
(VERDICT r12 "Next round" #4): q48g already hash-verifies assignment,
probe selection/order, size aggregation and scan_frac downstream of the
seeded k-means fit; what it does NOT exercise is the REST of the IVF
query plan — the probed-list candidate equi-join, the self-exclusion,
the exact scaled-int cosine re-rank, and the per-query top-k ranking.
This entry runs that whole probe+rank path end-to-end with the same
injected deterministic centroids (the ``n_lists`` lowest-``vec_id``
corpus vectors at the q48c-resolved operating point
``ivf_operating_point(N)``), assignment and probe selection under the
exact e12 integer d² contract and scoring under the q48 dot/norm e12
contract — so a plain-SQL oracle reproduces every output bit, including
rank ties (cosine DESC, n_id ASC). After this entry, rows-only covers
ONLY the Lloyd fit on the q48c/q48d default path.

Lives in its own module (not operators/similarity.py) and builds on
the operator's shared verifier steps — the bounded query collect, the
centroid injection, the exact-e12 assignment pass and probe order, and
the e12 cosine — which ``similarity.ivf_scan_stats_exact`` (q48g) and
q130 run too. Its oracle shares their SQL twins and injected-centroid
CTEs from llm_queries.

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C Q48 extension, registered r13).

Scale design (100 TB): a VERIFIER of the production IVF plan, not the
serving path (that stays on ``ivf_topk``/``ivf_probe_prebuilt`` with the
float argmin and the partition-pruned prebuilt index): the elementwise-
rounded exact d² costs d× a matmul, fine for one audit pass. Shape is
the production shape — one Arrow-batched corpus assignment pass, a
(Q·n_probe)-row probe frame BROADCAST against the assignments (the
corpus never shuffles; candidates flow map-side into the per-query
top-k window), bounded driver collects only for the ≤4096 query set and
the √N̄ centroid slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .llm_queries import (
    _D2_E12_SQL,
    _DOT_E12_SQL,
    _INJECTED_ASSIGN_CTES,
    _INJECTED_CENT_CTES,
    _NORM_E12_SQL,
)
from .registry import query, tables

_K = 5
_N_PROBE = 8
_N_QUERIES = 10  # mirrors q48c/q48d's audited query slice (vec_id < 10)

_Q48H_ORACLE = (
    _INJECTED_CENT_CTES
    + _INJECTED_ASSIGN_CTES
    + "q AS (SELECT vec_id AS q_id, embedding AS q_vec, "
    + _NORM_E12_SQL.format(v="embedding")
    + f" AS q_norm FROM embeddings WHERE vec_id < {_N_QUERIES}), "
    # per-query probe selection: n_probe nearest lists by exact e12 d2
    "pd AS (SELECT q.q_id, c.list_id, "
    + _D2_E12_SQL.format(a="q.q_vec", b="c.c_vec")
    + " AS d2 FROM q CROSS JOIN cent c), "
    "probes AS (SELECT q_id, list_id FROM pd QUALIFY row_number() OVER "
    f"(PARTITION BY q_id ORDER BY d2 ASC, list_id ASC) <= {_N_PROBE}), "
    # the IVF candidate join: probed lists x assignments, self excluded
    "cand AS (SELECT p.q_id, a.n_id FROM probes p JOIN amin a "
    "USING (list_id) WHERE a.n_id != p.q_id), "
    "scored AS (SELECT cand.q_id, cand.n_id, "
    "CAST(" + _DOT_E12_SQL.format(a="q.q_vec", b="e.embedding")
    + " AS DOUBLE) / (sqrt(CAST(q.q_norm AS DOUBLE)) * sqrt(CAST("
    + _NORM_E12_SQL.format(v="e.embedding")
    + " AS DOUBLE))) AS cosine "
    "FROM cand JOIN q ON cand.q_id = q.q_id "
    "JOIN embeddings e ON cand.n_id = e.vec_id) "
    "SELECT q_id, CAST(row_number() OVER "
    "(PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rank, "
    f"n_id, cosine FROM scored QUALIFY rank <= {_K} ORDER BY q_id, rank"
)

_Q48H_DESCRIPTION = (
    "Q48h: IVF top-k with injected deterministic centroids — the "
    "full-value-oracle twin of the q48c/q48d QUERY plan: the n_lists "
    "lowest-vec_id corpus vectors stand in for the k-means centroids "
    "(same corpus-scaled operating point), assignment and probe "
    "selection run under the exact e12 integer d2 contract, and the "
    "probed-list candidate join + self-exclusion + exact scaled-int "
    "cosine re-rank + per-query top-k — the machinery q48g's scan-stats "
    "side-channel does NOT execute — produce bit-reproducible (q_id, "
    "rank, n_id, cosine) rows in plain SQL. With this entry, rows-only "
    "covers ONLY the seeded Lloyd fit on the default IVF path. "
    "Verifier-shaped: one Arrow corpus pass, broadcast probe join, "
    "corpus never shuffles."
)


@query("q48h_ivf_topk_exact_centroids", oracle=_Q48H_ORACLE,
       description=_Q48H_DESCRIPTION, tags=("llm", "governance"))
def q48h(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    return ivf_topk_injected_centroids(
        emb, emb.where(F.col("vec_id") < _N_QUERIES),
        k=_K, n_probe=_N_PROBE,
    )


def ivf_topk_injected_centroids(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 8,
) -> DataFrame:
    """IVF top-k with injected deterministic centroids (q48h's engine).

    Same structure as ``similarity.ivf_topk`` with the fit replaced by
    the q48g centroid injection (``n_lists`` lowest-``id_col`` corpus
    vectors at ``ivf_operating_point(N)``) and assignment/probe
    selection on the exact e12 integer d² instead of the float argmin —
    every stage is then bit-reproducible in SQL. Input contract: unique
    ``id_col`` per (id, vec) pair, as in the sibling ANN paths.
    """
    from ..operators.similarity import (
        _exact_queries,
        _injected_centroids,
        _norm_e12_rows,
        _probe_order_e12,
        assign_lists_e12,
        cosine_from_e12,
        dot_e12,
    )

    spark = corpus.sparkSession
    out_schema = "q_id long, rank long, n_id long, cosine double"

    qrows, q_mat = _exact_queries(
        queries, id_col, vec_col, "ivf_topk_injected_centroids"
    )
    if not qrows:
        return spark.createDataFrame([], out_schema)
    _, cent = _injected_centroids(corpus, id_col, vec_col)
    if not len(cent):
        return spark.createDataFrame([], out_schema)

    # corpus assignment: one Arrow pass, exact e12 d2 argmin (ties ->
    # lowest list id); n_vec rides through so scoring needs no join back
    feats = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    )

    # the corpus pass also emits each vector's exact e12 norm (r16:
    # numerically identical to norm_e12, computed vectorized once per
    # row instead of as an interpreted higher-order fold per CANDIDATE)
    assigned = assign_lists_e12(
        feats, cent, keep_cols=("n_id", "n_vec"), norm_col="n_norm"
    )

    # probe selection: driver-side on the bounded query set. Each probe
    # row carries the query's e12 norm — a per-query constant the old
    # plan re-folded per candidate row.
    probe_rows = [
        (int(r["q_id"]), list(map(float, r["q_vec"])), int(norm), int(list_id))
        for r, norm, lists in zip(
            qrows, _norm_e12_rows(q_mat), _probe_order_e12(q_mat, cent, n_probe)
        )
        for list_id in lists
    ]
    probes = spark.createDataFrame(
        probe_rows, "q_id long, q_vec array<float>, q_norm long, list_id long"
    )

    # the IVF candidate join: tiny probe frame BROADCAST against the
    # assignments — map-side, the corpus never shuffles; then the q48
    # e12 cosine contract (dot is the only remaining per-candidate fold)
    # and the per-query top-k window
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            cosine_from_e12(
                dot_e12(F.col("q_vec"), F.col("n_vec")),
                F.col("q_norm"),
                F.col("n_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", "cosine")
        .orderBy("q_id", "rank")
    )


__all__ = ["q48h", "ivf_topk_injected_centroids"]
