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

Lives in its own module (not operators/similarity.py) and reuses the
operator's primitives READ-ONLY (`_d2_e12_rows`, `dot_e12`, `norm_e12`,
`cosine_from_e12`, `ivf_operating_point`, `_MAX_EXACT_QUERIES`); the
builder-local assignment generator mirrors
``similarity.ivf_scan_stats_exact``'s and could fold into the operator.

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

from .registry import query, tables

_K = 5
_N_PROBE = 8
_N_QUERIES = 10  # mirrors q48c/q48d's audited query slice (vec_id < 10)

# SQL twins of the e12 contracts (same text shape as llm_queries' / the
# q48g module's, re-derived here).
_D2_E12_SQL = (
    "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
    "CAST(round((CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
    "(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * 1e12) AS BIGINT)))"
    " AS BIGINT)"
)
_NORM_E12_SQL = (
    "CAST(list_sum(list_transform({v}, x -> "
    "CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT)"
)
_DOT_E12_SQL = (
    "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
    "CAST(round(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12) AS BIGINT)))"
    " AS BIGINT)"
)

_Q48H_ORACLE = (
    "WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings), "
    "ll AS (SELECT LEAST(GREATEST(CAST(round(sqrt(CAST(n AS DOUBLE))) "
    "AS BIGINT), 8), 4096) AS n_lists FROM nn), "
    "cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) "
    "- 1 AS list_id, embedding AS c_vec FROM embeddings "
    "QUALIFY row_number() OVER (ORDER BY vec_id) <= "
    "(SELECT n_lists FROM ll)), "
    # corpus -> nearest injected centroid, exact e12 d2, ties -> lowest list
    "asg AS (SELECT e.vec_id AS n_id, c.list_id, "
    + _D2_E12_SQL.format(a="e.embedding", b="c.c_vec")
    + " AS d2 FROM embeddings e CROSS JOIN cent c), "
    "amin AS (SELECT n_id, list_id FROM asg QUALIFY row_number() OVER "
    "(PARTITION BY n_id ORDER BY d2 ASC, list_id ASC) = 1), "
    f"q AS (SELECT vec_id AS q_id, embedding AS q_vec, "
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
    import numpy as np

    from ..operators.similarity import (
        _MAX_EXACT_QUERIES,
        _d2_e12_rows,
        _round_nearest_ties_away_e12,
        assign_lists_e12,
        cosine_from_e12,
        dot_e12,
        ivf_operating_point,
    )

    spark = corpus.sparkSession
    out_schema = "q_id long, rank long, n_id long, cosine double"

    qrows = (
        queries.dropDuplicates([id_col])
        .select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    if len(qrows) > _MAX_EXACT_QUERIES:
        raise ValueError(
            f"ivf_topk_injected_centroids: {len(qrows)} query vectors "
            f"exceed the small-by-contract bound {_MAX_EXACT_QUERIES}"
        )
    if not qrows:
        return spark.createDataFrame([], out_schema)
    n = corpus.count()
    cent_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(ivf_operating_point(n))
        .collect()
    )
    if not cent_rows:
        return spark.createDataFrame([], out_schema)
    cent = np.asarray(
        [np.asarray(r[vec_col], dtype="float64") for r in cent_rows]
    )
    n_lists = len(cent)

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

    # probe selection: driver-side on the bounded query set (Q x n_lists
    # exact e12 d2; lexsort's last key is primary -> d2 asc, list_id asc).
    # Each probe row carries the query's e12 norm — a per-query constant
    # the old plan re-folded per candidate row.
    q_mat = np.asarray(
        [np.asarray(r["q_vec"], dtype="float64") for r in qrows]
    )
    qd2 = _d2_e12_rows(q_mat, cent)
    q_norm = _round_nearest_ties_away_e12(q_mat * q_mat * 1e12).sum(axis=1)
    probe_rows = []
    for row, r in enumerate(qrows):
        order = np.lexsort((np.arange(n_lists), qd2[row]))
        probe_rows.extend(
            (int(r["q_id"]), list(map(float, r["q_vec"])),
             int(q_norm[row]), int(order[rank]))
            for rank in range(min(n_probe, n_lists))
        )
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
