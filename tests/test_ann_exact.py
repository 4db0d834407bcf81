"""q48h full-value-oracle IVF top-k (queries/ann_exact.py).

The entry's purpose is to put the IVF probe+rank machinery — candidate
equi-join, self-exclusion, exact e12 cosine re-rank, per-query top-k —
under a full cross-engine value oracle with injected deterministic
centroids (VERDICT r12 "Next round" #4), so the q48b/c/d rows-only
declaration covers ONLY the seeded Lloyd fit. Pins:

1. **Brute-force replay** — the whole output (assignment argmin under
   the e12 integer contract, probe selection/order, candidate union,
   e12 cosine, rank ties) recomputed in pure numpy from the parquet.
2. **Plan shape** — the candidate join is a BROADCAST hash join of the
   tiny probe frame (the corpus never shuffles); no cartesian product.
3. **Candidate containment** — every reported neighbor's assigned list
   is one of its query's probed lists (the IVF invariant), and ranks
   are dense from 1.
4. **Edge cases** — empty query set and duplicate query ids.

Oracle parity for q48h itself runs in test_oracle_parity.py like every
registered entry (and was pinned ad-hoc at sf0.001+sf0.01 before
registration, per the pre-register checklist).
"""

from __future__ import annotations

import numpy as np
import pytest

from bucket_to_bigquery_spark.operators.similarity import (
    INJECTED_N_PROBE,
    TOP_K,
    _round_nearest_ties_away_e12,
    ivf_operating_point,
)
from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.queries.ann_exact import (
    _N_QUERIES,
    ivf_topk_injected_centroids,
)
from bucket_to_bigquery_spark.queries.registry import tables


def _e12_d2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    d = a[:, None, :] - b[None, :, :]
    return _round_nearest_ties_away_e12(d * d * 1e12).sum(axis=2)


def _e12_norm(v: np.ndarray) -> np.ndarray:
    return _round_nearest_ties_away_e12(v * v * 1e12).sum(axis=1)


def _replay(vecs: dict[int, np.ndarray], k: int, n_probe: int,
            q_ids: list[int]) -> list[tuple[int, int, int, float]]:
    """Pure-python q48h: returns (q_id, rank, n_id, cosine) rows."""
    ids = sorted(vecs)
    n_lists = min(max(round(np.sqrt(len(ids))), 8), 4096)
    cent = np.asarray([vecs[i] for i in ids[:n_lists]])
    mat = np.asarray([vecs[i] for i in ids])
    assign = _e12_d2(mat, cent).argmin(axis=1)  # ties -> lowest list
    by_list: dict[int, list[int]] = {}
    for nid, lst in zip(ids, assign):
        by_list.setdefault(int(lst), []).append(nid)
    norms = dict(zip(ids, _e12_norm(mat)))
    out = []
    for qid in q_ids:
        qv = vecs[qid]
        d2 = _e12_d2(qv[None, :], cent)[0]
        order = np.lexsort((np.arange(n_lists), d2))[: min(n_probe, n_lists)]
        cand = [n for lst in order for n in by_list.get(int(lst), [])
                if n != qid]
        scored = []
        for nid in cand:
            dot = int(_round_nearest_ties_away_e12(
                qv * vecs[nid] * 1e12).sum())
            cos = dot / (np.sqrt(float(norms[qid])) * np.sqrt(float(norms[nid])))
            scored.append((nid, cos))
        scored.sort(key=lambda t: (-t[1], t[0]))
        out.extend((qid, r + 1, nid, cos)
                   for r, (nid, cos) in enumerate(scored[:k]))
    return out


@pytest.fixture(scope="module")
def emb_rows(spark, sf_dir):
    emb = tables(spark, sf_dir)["embeddings"]
    return {int(r["vec_id"]): np.asarray(r["embedding"], dtype="float64")
            for r in emb.collect()}


def test_q48h_matches_numpy_bruteforce(spark, sf_dir, emb_rows):
    got = [
        (r["q_id"], r["rank"], r["n_id"], r["cosine"])
        for r in all_queries()["q48h_ivf_topk_exact_centroids"]
        .builder(spark, sf_dir).collect()
    ]
    want = _replay(emb_rows, TOP_K, INJECTED_N_PROBE, list(range(_N_QUERIES)))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert g[3] == pytest.approx(w[3], abs=0, rel=0) or g[3] == w[3]


def test_q48h_candidates_come_from_probed_lists(spark, sf_dir, emb_rows):
    """The IVF invariant: each reported neighbor is assigned to one of
    its query's probed lists, and ranks are dense from 1 per query."""
    ids = sorted(emb_rows)
    n_lists = min(max(round(np.sqrt(len(ids))), 8), 4096)
    cent = np.asarray([emb_rows[i] for i in ids[:n_lists]])
    mat = np.asarray([emb_rows[i] for i in ids])
    assign = dict(zip(ids, _e12_d2(mat, cent).argmin(axis=1)))
    rows = (
        all_queries()["q48h_ivf_topk_exact_centroids"]
        .builder(spark, sf_dir).collect()
    )
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == set(range(_N_QUERIES))
    for qid, rs in by_q.items():
        d2 = _e12_d2(emb_rows[qid][None, :], cent)[0]
        probed = set(
            int(x) for x in np.lexsort((np.arange(n_lists), d2))[:INJECTED_N_PROBE]
        )
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == \
            list(range(1, len(rs) + 1))
        for r in rs:
            assert int(assign[r["n_id"]]) in probed


def test_q48h_plan_broadcasts_probes_no_cartesian(spark, sf_dir):
    df = all_queries()["q48h_ivf_topk_exact_centroids"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # the corpus must not shuffle


def test_q48h_empty_and_duplicate_queries(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = tables(spark, sf_dir)["embeddings"]
    empty = ivf_topk_injected_centroids(emb, emb.where(F.lit(False)))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == \
        ["q_id", "rank", "n_id", "cosine"]
    # duplicate query ids dedup like the sibling ANN paths
    dup = ivf_topk_injected_centroids(
        emb,
        emb.where(F.col("vec_id") < 2).unionAll(
            emb.where(F.col("vec_id") < 2)),
        k=3,
    ).collect()
    assert sorted({r["q_id"] for r in dup}) == [0, 1]
    assert len(dup) == len({(r["q_id"], r["rank"]) for r in dup})


def test_q48h_operating_point_matches_q48c(spark, sf_dir):
    """q48h injects centroids at the SAME corpus-scaled operating point
    q48c resolves, so the oracle's LEAST/GREATEST clamp must equal
    ivf_operating_point for the test corpora."""
    n = tables(spark, sf_dir)["embeddings"].count()
    clamp = min(max(round(np.sqrt(n)), 8), 4096)
    assert clamp == ivf_operating_point(n)


def test_ivf_build_index_persisted_layout(spark, sf_dir, tmp_path):
    """The index files keep the layout earlier builds wrote, so an index
    built before the driver-side frames moved to Arrow still loads."""
    from bucket_to_bigquery_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_prebuilt,
    )

    emb = tables(spark, sf_dir)["embeddings"]
    path = str(tmp_path / "index")
    params = ivf_build_index(emb, path)
    stored = spark.read.parquet(f"{path}/params")
    assert stored.schema.simpleString() == (
        "struct<index_version:bigint,n_corpus:bigint,n_lists:bigint,"
        "n_probe:bigint,recall_target:double>"
    )
    assert stored.collect()[0].asDict() == params
    cent = spark.read.parquet(f"{path}/centroids")
    assert cent.schema.simpleString() == \
        "struct<list_id:bigint,centroid:array<double>>"
    assert cent.count() == params["n_lists"]
    top = ivf_probe_prebuilt(spark, path, emb.where("vec_id < 2"), k=3)
    assert sorted({r["q_id"] for r in top.collect()}) == [0, 1]
