"""New r12 surface — q48g: the IVF scan-stats SIDE-CHANNEL oracle.

Closes the q48c/q48d `no_oracle` declaration down to its true minimum
(VERDICT r11 "What's wrong" #3): the seeded k-means fit is the ONLY part
of the IVF path a SQL oracle cannot express, so this entry runs every
OTHER stage — nearest-list assignment (argmin ties → lowest list id),
per-query probe selection and probe ORDER, empty-probed-list handling,
inverted-list size aggregation, and the scan-fraction arithmetic — with
deterministic INJECTED centroids (the ``n_lists`` lowest-``vec_id``
corpus vectors at the same corpus-scaled ``n_lists`` =
``ivf_operating_point(N)`` q48c resolves), under the exact e12 integer
distance contract (Σ round((xᵢ−cᵢ)²·1e12) per element BEFORE the sum,
the q48 dot/norm discipline applied to d²), so a plain-SQL oracle
reproduces every output bit. q48c/q48d remain rows-only for the fit
itself, covered by their recall floor and prebuilt==inline pins.

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension, registered r12).

Scale design (100 TB): this is a VERIFIER, not the serving path (the
q89→q89b split in the other direction): the elementwise-rounded exact
d² costs d× a matmul, acceptable for the single N×√N̄ audit assignment
pass; production probing stays on ``ivf_topk``/``ivf_scan_stats``
(whose float argmin this entry's integer argmin cross-checks at audit
scale). One Arrow-batched corpus pass, an L-row size aggregate, a
(Q·n_probe)-row broadcast LEFT join — documents never shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .llm_queries import _D2_E12_SQL, _INJECTED_ASSIGN_CTES, _INJECTED_CENT_CTES
from .registry import query, tables

_N_PROBE = 8
_N_QUERIES = 32  # audited query slice: vec_id < 32 (bounded by contract)

_Q48G_ORACLE = (
    _INJECTED_CENT_CTES
    + _INJECTED_ASSIGN_CTES
    + "sizes AS (SELECT list_id, CAST(count(*) AS BIGINT) AS cnt "
    "FROM amin GROUP BY list_id), "
    "q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings "
    f"WHERE vec_id < {_N_QUERIES}), "
    "pd AS (SELECT q.q_id, c.list_id, "
    + _D2_E12_SQL.format(a="q.q_vec", b="c.c_vec")
    + " AS d2 FROM q CROSS JOIN cent c), "
    "probes AS (SELECT q_id, list_id, row_number() OVER "
    "(PARTITION BY q_id ORDER BY d2 ASC, list_id ASC) AS rnk FROM pd "
    f"QUALIFY rnk <= {_N_PROBE}) "
    # n_lists/n_probe report the ACTUAL centroid count / effective probe
    # width (a corpus smaller than the clamp floor has fewer lists than
    # the operating point requests — the builder emits len(cent) and
    # min(n_probe, len(cent)), so the oracle must too; review r12)
    "SELECT p.q_id, (SELECT n FROM nn) AS n_corpus, "
    "(SELECT CAST(count(*) AS BIGINT) FROM cent) AS n_lists, "
    f"LEAST(CAST({_N_PROBE} AS BIGINT), "
    "(SELECT CAST(count(*) AS BIGINT) FROM cent)) AS n_probe, "
    "array_to_string(list(p.list_id ORDER BY p.rnk), ',') AS probed_lists, "
    "CAST(sum(COALESCE(s.cnt, 0)) AS BIGINT) AS candidates, "
    "CAST(sum(COALESCE(s.cnt, 0)) AS DOUBLE) / "
    "(SELECT CAST(n AS DOUBLE) FROM nn) AS scan_frac "
    "FROM probes p LEFT JOIN sizes s USING (list_id) "
    "GROUP BY p.q_id ORDER BY p.q_id"
)

_Q48G_DESCRIPTION = (
    "Q48g: IVF scan-stats side-channel — the full-value-oracle twin of "
    "the q48c/q48d scan cost: injected deterministic centroids (the "
    "n_lists lowest-vec_id vectors at the corpus-scaled operating "
    "point) + the exact e12 integer d2 contract make assignment, probe "
    "selection/order, empty-list handling, size aggregation and "
    "scan_frac arithmetic bit-reproducible in plain SQL; only the "
    "seeded k-means fit stays rows-only (recall + prebuilt==inline "
    "pins). Verifier-shaped: one Arrow corpus pass, broadcast LEFT "
    "size join, documents never shuffle."
)


@query("q48g_ivf_scan_stats", oracle=_Q48G_ORACLE,
       description=_Q48G_DESCRIPTION, tags=("llm", "governance"))
def q48g(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_scan_stats_exact

    emb = tables(spark, sf_dir)["embeddings"]
    return ivf_scan_stats_exact(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), n_probe=_N_PROBE
    )


__all__ = ["q48g"]
