"""q48g IVF scan-stats side-channel (queries/scan_stats.py) + the
similarity.py ADVICE r9 fixes it rides with (GATE_r12.md):

1. **Brute-force replay** — q48g's full output (assignment argmin under
   the exact e12 contract, probe selection/order, empty-list-safe size
   sums, scan_frac) recomputed independently in numpy from the parquet.
2. **Empty probed lists are COUNTED, not dropped** — the LEFT-join
   semantics (ADVICE r9 #2): a duplicated corpus vector makes its
   centroid's list empty (assignment ties break to the lowest list id),
   and the empty list must still appear in ``probed_lists`` with a zero
   contribution. An inner join loses the list from the probe record.
3. **Chunked argmin equivalence** (ADVICE r9 #1): the row-chunked
   ``_argmin_d2`` matches the unchunked full-matrix argmin bit-for-bit
   on float64 (row-independent GEMM slices).
4. **Production ivf_scan_stats contract**: every query appears in
   ``n_queries`` and scan_frac stays in (0, 1].

Oracle parity for q48g itself runs in test_oracle_parity.py like every
registered entry.
"""

from __future__ import annotations

import numpy as np
import pytest

from bucket_to_bigquery_spark.operators.similarity import (
    _argmin_d2,
    _d2_e12_rows,
    ivf_operating_point,
    ivf_scan_stats,
    ivf_scan_stats_exact,
)
from bucket_to_bigquery_spark.queries import all_queries


def test_q48g_matches_numpy_bruteforce(spark, sf_dir):
    got = {
        r["q_id"]: r
        for r in all_queries()["q48g_ivf_scan_stats"]
        .builder(spark, sf_dir)
        .collect()
    }
    rows = sorted(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect(),
        key=lambda r: r["vec_id"],
    )
    x = np.asarray([np.asarray(r["embedding"], dtype="float64") for r in rows])
    ids = np.asarray([r["vec_id"] for r in rows])
    n = len(x)
    n_lists = ivf_operating_point(n)
    cent = x[:n_lists]  # rows are vec_id-sorted; centroids = lowest ids
    d2 = _d2_e12_rows(x, cent)
    assign = d2.argmin(axis=1)  # np.argmin ties -> lowest index
    sizes = np.bincount(assign, minlength=n_lists)
    qmask = ids < 32
    assert got.keys() == set(ids[qmask].tolist())
    for qi in np.flatnonzero(qmask):
        order = np.lexsort((np.arange(n_lists), d2[qi]))[:8]
        r = got[int(ids[qi])]
        assert r["n_corpus"] == n and r["n_lists"] == n_lists
        assert r["n_probe"] == 8
        assert r["probed_lists"] == ",".join(str(int(l)) for l in order)
        expect_cand = int(sizes[order].sum())
        assert r["candidates"] == expect_cand
        assert r["scan_frac"] == expect_cand / n


def _dup_corpus(spark, n=12, dim=4, dup_of=0, dup_id=3):
    rng = np.random.RandomState(7)
    vecs = rng.uniform(-1, 1, size=(n, dim)).astype("float32")
    vecs[dup_id] = vecs[dup_of]  # duplicate => list dup_id goes EMPTY
    return spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


def test_exact_scan_stats_counts_empty_probed_lists(spark):
    """vec 3 == vec 0, so assignment ties send both to list 0 and list 3
    is empty; probing all 8 lists must still list it and count zero for
    it (candidates == the full corpus). An inner size join would drop
    list 3 from probed_lists."""
    corpus = _dup_corpus(spark)  # n=12 -> n_lists = 8 (the clamp floor)
    out = ivf_scan_stats_exact(corpus, corpus.where("vec_id < 1")).collect()
    assert len(out) == 1
    r = out[0]
    probed = r["probed_lists"].split(",")
    assert len(probed) == 8 and "3" in probed
    # q0's two zero-distance lists rank first, ties to the lowest id
    assert probed[0] == "0" and probed[1] == "3"
    assert r["candidates"] == 12 and r["scan_frac"] == 1.0


def test_argmin_d2_chunked_matches_full_matrix():
    rng = np.random.RandomState(11)
    x = rng.uniform(-1, 1, size=(1000, 8))
    cent = rng.uniform(-1, 1, size=(50, 8))
    c2 = (cent * cent).sum(axis=1)
    full = (c2[None, :] - 2.0 * (x @ cent.T)).argmin(axis=1)
    assert (_argmin_d2(x, cent, c2) == full).all()


def test_ivf_scan_stats_reports_every_query(spark):
    corpus = _dup_corpus(spark, n=64, dim=8)
    stats = ivf_scan_stats(corpus, corpus.where("vec_id < 6"))
    assert stats["n_queries"] == 6
    assert stats["n_corpus"] == 64
    assert 0.0 < stats["scan_frac"] <= 1.0
    assert stats["candidates"] <= stats["exhaustive"]


def test_exact_scan_stats_rejects_unbounded_query_set(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    big = emb.sparkSession.range(5000).selectExpr(
        "id AS vec_id", "array(CAST(id AS FLOAT)) AS embedding"
    )
    with pytest.raises(ValueError, match="small-by-contract"):
        ivf_scan_stats_exact(emb, big)


def test_exact_scan_stats_corpus_smaller_than_clamp_floor(spark):
    """A 5-vector corpus has fewer vectors than the n_lists clamp floor
    (8): every shape follows the ACTUAL centroid count — n_lists = 5,
    effective n_probe = 5, all lists probed, candidates = the whole
    corpus (r12 review: the operating-point count crashed lexsort)."""
    corpus = _dup_corpus(spark, n=5, dup_of=0, dup_id=3)
    out = ivf_scan_stats_exact(corpus, corpus.where("vec_id < 2")).collect()
    assert len(out) == 2
    for r in out:
        assert r["n_lists"] == 5 and r["n_probe"] == 5
        assert len(r["probed_lists"].split(",")) == 5
        assert r["candidates"] == 5 and r["scan_frac"] == 1.0


def test_exact_scan_stats_dedups_query_ids(spark):
    """Duplicate q_ids in the query frame must not double-count
    candidates or interleave probe ranks (the sibling ANN paths
    dropDuplicates the same way; r12 review)."""
    corpus = _dup_corpus(spark, n=12)
    q = corpus.where("vec_id < 1")
    out = ivf_scan_stats_exact(corpus, q.unionAll(q)).collect()
    assert len(out) == 1
    r = out[0]
    assert len(r["probed_lists"].split(",")) == 8
    assert r["candidates"] == 12


def test_exact_scan_stats_empty_corpus_and_empty_queries(spark):
    corpus = _dup_corpus(spark, n=12)
    empty = corpus.where("vec_id < 0")
    assert ivf_scan_stats_exact(empty, corpus.where("vec_id < 2")).count() == 0
    assert ivf_scan_stats_exact(corpus, empty).count() == 0


def test_q48g_plan_shape(spark, sf_dir):
    """The size join must broadcast (L rows by construction) and
    nothing may fall back to a cartesian/BNLJ — the probe frame joins
    sizes on list_id, an equi-key."""
    df = all_queries()["q48g_ivf_scan_stats"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
