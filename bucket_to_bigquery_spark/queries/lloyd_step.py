"""q130: Lloyd-update step audit, the
last shrink of the q48b/c/d rows-only exemption. q48g hash-verifies
the IVF assignment/probe stats and q48h the whole probe+rank QUERY
plan, both under injected centroids; the one remaining unoracled
machine is the k-means FIT. This entry executes ONE full Lloyd
update — exact-e12 assignment to injected centroids, then the
centroid recomputation (per-list component means) — and emits each
list's population and squared centroid shift under a FULL value
oracle. After this entry, rows-only covers ONLY the multi-iteration
convergence loop (a bounded repetition of exactly the step verified
here, plus the seeded sample draw).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C Q48 extension).

Determinism: centroids are the q48g/q48h injection (the n_lists
lowest-vec_id corpus vectors at ivf_operating_point(N)); assignment
is the exact e12 integer d² argmin (ties → lowest list — the q48g
contract); the update follows the q127 scaled-int shape — e6
component BIGINTs, exact integer (list, dim) sums, ONE double mean
per coordinate — and the shift is the q98/q100 per-term rule: each
dim's (mean − old_e6)² is ONE identical-operand-order double rounded
to a BIGINT, the 64 contributions summed as integers. Lists that
attract no vectors keep their centroid (shift 0, n 0 — mirroring
operators/similarity._lloyd's nonzero-count guard). Ordered by
list_id.

Lives in its own module (the q48h precedent) and reuses
operators/similarity.py's verifier steps: the centroid injection
(`_injected_centroids`), the exact d² (`_d2_e12_rows`) and the
small-input spread. Its oracle shares the injected-centroid CTEs and
the e12 d² SQL twin from llm_queries.

Scale design (100 TB): the fit auditor mirrors the fit's own shape —
ONE Arrow-batched corpus assignment pass against the broadcast
√N̄-row centroid slice (the corpus never shuffles); the update is a
map-side-combined (list, dim) partial sum — vectors never shuffle,
only |lists|·d BIGINT partials do (the q69/q100 shape); everything
after is arithmetic on the |lists|·d frame. That IS the distributed
Lloyd step a warehouse-scale fit would run (the production _lloyd
fits on a bounded driver sample instead — the documented seam this
audit now value-checks one step of).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .llm_queries import _D2_E12_SQL, _INJECTED_CENT_CTES
from .registry import query, tables

_DIM = 64

_Q130_ORACLE = (
    _INJECTED_CENT_CTES
    # exact-e12 assignment, ties -> lowest list (the q48g contract)
    + "asg AS (SELECT e.vec_id AS n_id, e.embedding AS n_vec, c.list_id, "
    + _D2_E12_SQL.format(a="e.embedding", b="c.c_vec")
    + " AS d2 FROM embeddings e CROSS JOIN cent c), "
    "amin AS (SELECT n_id, n_vec, list_id FROM asg QUALIFY row_number() "
    "OVER (PARTITION BY n_id ORDER BY d2 ASC, list_id ASC) = 1), "
    "pop AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n_assigned "
    "FROM amin GROUP BY list_id), "
    # e6 component integer sums per (list, dim) — the q127 contract
    "sums AS (SELECT list_id, j, CAST(sum(CAST(round(n_vec[j] * 1e6) "
    f"AS BIGINT)) AS BIGINT) AS s FROM amin CROSS JOIN range(1, {_DIM + 1}) "
    "r(j) GROUP BY list_id, j), "
    # per-dim shift term: ONE double (mean - old_e6)^2, e12-rounded
    "terms AS (SELECT su.list_id, CAST(round("
    "(CAST(su.s AS DOUBLE) / p.n_assigned - round(c.c_vec[su.j] * 1e6)) * "
    "(CAST(su.s AS DOUBLE) / p.n_assigned - round(c.c_vec[su.j] * 1e6))"
    ") AS BIGINT) AS t FROM sums su JOIN pop p ON su.list_id = p.list_id "
    "JOIN cent c ON su.list_id = c.list_id), "
    "shift AS (SELECT list_id, CAST(sum(t) AS BIGINT) AS shift_sq_e12 "
    "FROM terms GROUP BY list_id) "
    "SELECT c.list_id, "
    "COALESCE(p.n_assigned, CAST(0 AS BIGINT)) AS n_assigned, "
    "COALESCE(s.shift_sq_e12, CAST(0 AS BIGINT)) AS shift_sq_e12 "
    "FROM cent c LEFT JOIN pop p ON c.list_id = p.list_id "
    "LEFT JOIN shift s ON c.list_id = s.list_id ORDER BY c.list_id"
)

_Q130_DESCRIPTION = (
    "Q130: Lloyd-update step audit — one full k-means iteration under "
    "injected deterministic centroids (the q48g/q48h trick), fully "
    "value-oracled: exact-e12 argmin assignment (ties -> lowest "
    "list), per-list component-mean recomputation under the q127 "
    "scaled-int contract, and each list's squared centroid shift via "
    "the q98 per-term rule. Empty lists keep their centroid (the "
    "_lloyd nonzero-count guard). With q48g (stats) and q48h (query "
    "plan), rows-only now covers ONLY the fit's convergence loop. "
    "Audit shape = the distributed Lloyd step itself: one Arrow "
    "corpus pass against broadcast centroids, map-side (list,dim) "
    "partials — vectors never shuffle."
)


@query("q130_lloyd_step_audit", oracle=_Q130_ORACLE,
       description=_Q130_DESCRIPTION, tags=("llm", "governance"))
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.similarity import (
        _d2_e12_rows,
        _injected_centroids,
        _round_nearest_ties_away_e12,
        _spread_small_input,
    )

    emb = tables(spark, sf_dir)["embeddings"]
    _, cent = _injected_centroids(emb, "vec_id", "embedding")
    n_lists, dim = cent.shape
    # engine-exact old-centroid e6 rendering, computed ONCE on the
    # driver with the pinned ROUND replica (rint + ties-away — the same
    # helper the e12 contract rides); previously this was a 9k-row
    # createDataFrame + two broadcast joins per run
    old_e6 = _round_nearest_ties_away_e12(cent * 1e6).astype("float64")

    # r16 optimization (guide §2.3/§4.2): ONE fused Arrow pass emits
    # per-task (list_id, j) PARTIAL e6 component sums and counts — the
    # map-side combine happens in numpy, so the shuffle carries
    # tasks·L·d partial rows instead of N·d posexploded component rows,
    # and the cache/pop/posexplode/createDataFrame/broadcast chain (7
    # jobs) collapses to count + collect + one noop execution. Every
    # (list, j) cell is emitted by every task (zeros included), so empty
    # lists surface with n=0/shift=0 without a driver-built list frame.
    # Exactness is unchanged: per-element e6 rounding BEFORE any sum,
    # integer partials, integer merge — associativity is exact.
    def partials(batches):
        import pandas as pd

        grid_list = np.repeat(np.arange(n_lists, dtype="int64"), dim)
        grid_j = np.tile(np.arange(1, dim + 1, dtype="int64"), n_lists)
        grid_old = old_e6.reshape(-1)
        s = np.zeros((n_lists, dim), dtype="int64")
        cnt = np.zeros(n_lists, dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["n_vec"]]
            )
            asg = _d2_e12_rows(x, cent).argmin(axis=1)
            cnt += np.bincount(asg, minlength=n_lists)
            np.add.at(s, asg, _round_nearest_ties_away_e12(x * 1e6))
        yield pd.DataFrame(
            {
                "list_id": grid_list,
                "j": grid_j,
                "old_e6": grid_old,
                "s": s.reshape(-1),
                "cnt": np.repeat(cnt, dim),
            }
        )

    # the corpus pass is CPU-heavy numpy: spread a small input to the
    # cluster width (a no-op at warehouse scale)
    vecs = _spread_small_input(emb.select(F.col("embedding").alias("n_vec")))
    per = (
        vecs.mapInPandas(
            partials, "list_id long, j long, old_e6 double, s long, cnt long"
        )
        .groupBy("list_id", "j", "old_e6")
        .agg(
            F.sum("s").cast("long").alias("s"),
            F.sum("cnt").cast("long").alias("n_assigned"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n_assigned")
    term = F.round(
        (mean - F.col("old_e6")) * (mean - F.col("old_e6"))
    ).cast("long")
    return (
        per.groupBy("list_id")
        .agg(
            F.max("n_assigned").cast("long").alias("n_assigned"),
            F.sum(
                F.when(F.col("n_assigned") > 0, term)
                .otherwise(F.lit(0).cast("long"))
            ).cast("long").alias("shift_sq_e12"),
        )
        .orderBy("list_id")
    )


__all__ = ["q130"]
