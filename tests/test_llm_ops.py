"""Recall/quality checks for the approximate LLM operators — the part of
Q47b/Q48b the rows-only driver check can't see (SURVEY §5.3: approx ops
are tolerance/recall-checked, not hash-checked)."""

from __future__ import annotations

from bucket_to_bigquery_spark.queries import all_queries


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_q47b_lsh_recall_of_exact_pairs(spark, sf_dir):
    qs = all_queries()
    exact = _pairs(qs["q47_ngram_jaccard_pairs"].builder(spark, sf_dir))
    lsh = _pairs(qs["q47b_minhash_lsh_pairs"].builder(spark, sf_dir))
    assert exact, "exact jaccard found no planted pairs — corpus broken"
    # every planted exact/near duplicate (jaccard >= 0.6 ⇒ distance <= 0.4,
    # the LSH join threshold) must be recalled; 6 banded min-hash functions
    # give vanishing miss probability at j >= 0.6 (miss = (1-j)^6)
    missed = exact - lsh
    recall = 1 - len(missed) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.2f}; missed {sorted(missed)[:5]}"


def test_q48b_ann_recall_vs_exact(spark, sf_dir):
    qs = all_queries()
    exact = qs["q48_cosine_topk"].builder(spark, sf_dir).collect()
    ann = qs["q48b_ann_lsh_topk"].builder(spark, sf_dir).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    ann_sets = {}
    for r in ann:
        ann_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    assert set(ann_sets) == set(exact_sets)  # every query answered
    hits = sum(len(exact_sets[q] & ann_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    recall = hits / total
    # 8 hash tables with full-sphere candidate search: candidates are ranked
    # by TRUE distance, so recall loss comes only from bucket misses
    assert recall >= 0.6, f"ANN recall@5 = {recall:.2f}"


def test_q48e_signgrid_recall_vs_exact(spark, sf_dir):
    # q48e is the hash-verified ANN (deterministic sign-grid blocking);
    # the driver certifies exactness of the RESULT, this pins the quality
    # of the blocking: recall@5 vs brute force at the 9-band × 7-bit
    # Hamming-1 multi-probe operating point promoted in r7 (r6 sweep:
    # 0.78/0.78/0.84 measured at sf0.001/0.01/0.1, ~44% candidate volume).
    # r16 (VERDICT r15 #4): 0.84-at-sf0.1 is the DECLARED floor, pinned
    # with the q48c/d-gate prominence — the corner sweep showed >=0.95
    # costs 0.65-0.69 candidate fraction (near-brute-force; the
    # frontier table + rationale live in signgrid_ann_topk's docstring
    # and tools/sweep_signgrid.py). The assert below is SF-aware so the
    # declared number is what an sf0.1 run actually enforces (review
    # finding r16: a flat 0.78 floor left the 0.84 pin unenforced);
    # q48e is RNG-free, so the per-SF recall is a deterministic
    # constant, safe to pin exactly (r16 sweep: 0.82/0.78/0.84 at
    # sf0.001/0.01/0.1).
    qs = all_queries()
    exact = qs["q48_cosine_topk"].builder(spark, sf_dir).collect()
    grid = qs["q48e_signgrid_ann"].builder(spark, sf_dir).collect()
    exact_sets, grid_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    for r in grid:
        grid_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    assert set(grid_sets) == set(exact_sets)  # every query answered
    hits = sum(len(exact_sets[q] & grid_sets.get(q, set())) for q in exact_sets)
    recall = hits / sum(len(s) for s in exact_sets.values())
    floor = 0.84 if sf_dir.rstrip("/").endswith("sf0.1") else 0.78
    assert recall >= floor, (
        f"sign-grid recall@5 = {recall:.2f} < declared floor {floor} "
        f"at {sf_dir}")


def test_signgrid_multiprobe_dominates_exact_blocking(spark, sf_dir):
    # probe_hamming=1 admits every exact-match candidate plus the
    # Hamming-1 ring — a strict candidate SUPERSET at the same band
    # layout. The property a superset actually guarantees is per-rank
    # order-statistic dominance: for every query and every rank the
    # probed run's r-th best cosine >= the exact run's r-th best (NOT
    # summed top-k mass, which extra low-cosine candidates filling empty
    # ranks can legitimately lower). Pin that at the 9×7 layout (r6
    # sweep: 0.78-0.84 recall at ~44% candidates when probed).
    from bucket_to_bigquery_spark.catalog import load_tables
    from bucket_to_bigquery_spark.operators.similarity import signgrid_ann_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where("vec_id < 10")

    def ranked(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["q_id"], []).append(r["cosine"])
        return {k: sorted(v, reverse=True) for k, v in out.items()}

    base = ranked(signgrid_ann_topk(emb, q, k=5, bands=9, bits=7))
    probed = ranked(
        signgrid_ann_topk(emb, q, k=5, bands=9, bits=7, probe_hamming=1)
    )
    assert set(probed) >= set(base)  # superset can only ADD answered queries
    for qid, base_cos in base.items():
        probed_cos = probed[qid]
        assert len(probed_cos) >= len(base_cos), qid
        for i, bc in enumerate(base_cos):
            assert probed_cos[i] >= bc - 1e-12, (qid, i)


def test_q47e_containment_catches_subset_dups_jaccard_misses(spark, sf_dir):
    # the planted half-docs (+300000) are shingle-subsets of their
    # originals: containment = 1.0 but jaccard ~0.5 < the 0.6 gate —
    # q47e must find them, q47 must not (the reason the operator exists)
    qs = all_queries()
    jac = _pairs(qs["q47_ngram_jaccard_pairs"].builder(spark, sf_dir))
    con = _pairs(qs["q47e_containment_pairs"].builder(spark, sf_dir))
    half_pairs_j = {(a, b) for a, b in jac if b >= 300000}
    half_pairs_c = {(a, b) for a, b in con if b >= 300000 and a == b - 300000}
    assert not half_pairs_j, "jaccard gate unexpectedly admits half-docs"
    assert len(half_pairs_c) >= 10, f"containment found {len(half_pairs_c)}"


def test_ann_outputs_are_structurally_sound(spark, sf_dir):
    # every ANN family member must return: ranks 1..n contiguous per
    # query, cosines non-increasing with rank, and (where cosine is
    # exposed) values equal to the exact brute-force cosine for that pair
    qs = all_queries()
    exact = {
        (r["q_id"], r["n_id"]): r["cosine"]
        for r in qs["q48_cosine_topk"].builder(spark, sf_dir).collect()
    }
    grid = qs["q48e_signgrid_ann"].builder(spark, sf_dir).collect()
    per_q = {}
    for r in grid:
        per_q.setdefault(r["q_id"], []).append((r["rank"], r["n_id"], r["cosine"]))
    for q, rows in per_q.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1)), q
        cosines = [r[2] for r in rows]
        assert all(a >= b for a, b in zip(cosines, cosines[1:])), q
        for rank, n_id, cos in rows:
            if (q, n_id) in exact:  # pair also in exact top-5
                assert abs(cos - exact[(q, n_id)]) < 1e-12, (q, n_id)


def test_cdc_chunks_resync_after_prefix_insertion():
    # the reason CDC beats fixed-size chunking: boundaries depend on
    # CONTENT, so after a prefix insertion the chunk stream re-synchronizes
    # at the next content boundary and every later chunk hashes identically
    import pandas as pd

    from bucket_to_bigquery_spark.operators.multimodal import cdc_chunk_batches

    import random

    rng = random.Random(7)
    base = bytes(rng.randrange(97, 123) for _ in range(2000))
    shifted = b"XYZ" + base
    pdf = pd.DataFrame({"doc_id": [1, 2], "payload": [base, shifted]})
    chunks = pd.concat(list(cdc_chunk_batches(iter([pdf]))))
    h1 = list(chunks[chunks.doc_id == 1].chunk_hash)
    h2 = list(chunks[chunks.doc_id == 2].chunk_hash)
    assert len(h1) > 3, "test string too short to chunk"
    # all chunks after the first boundary past the insertion must coincide
    tail = min(len(h1), len(h2)) - 2
    assert tail > 0 and h1[-tail:] == h2[-tail:], (h1, h2)


def test_q46_dedup_finds_planted_copies(spark, sf_dir):
    df = all_queries()["q46_exact_dedup"].builder(spark, sf_dir)
    groups = df.collect()
    dups = [g for g in groups if g["n_copies"] > 1]
    assert len(dups) >= 40  # ~50 planted exact copies at every sf
    # survivor rule: keep_id is always the original (min) id
    assert all(g["keep_id"] < 100000 for g in dups)


def test_q48c_ivf_recall_vs_exact(spark, sf_dir):
    qs = all_queries()
    exact = qs["q48_cosine_topk"].builder(spark, sf_dir).collect()
    ivf = qs["q48c_ivf_topk"].builder(spark, sf_dir).collect()
    exact_sets, ivf_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    for r in ivf:
        ivf_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    assert set(ivf_sets) == set(exact_sets)
    hits = sum(len(exact_sets[q] & ivf_sets.get(q, set())) for q in exact_sets)
    recall = hits / sum(len(s) for s in exact_sets.values())
    # v4 operating point (VERDICT r8 #2): n_lists scales as sqrt(N) and
    # n_probe is calibrated on the fit sample to hold recall >= 0.9, so
    # corpus recall must clear 0.7 at EVERY scale (the 10-query gate set
    # is small, so the corpus number sits a few hits below the
    # calibration estimate; the old floor of 0.4 let the fixed 16/4
    # point decay to 0.48 at sf0.1 unnoticed)
    assert recall >= 0.7, f"IVF recall@5 = {recall:.2f}"


def test_ivf_calibration_adapts_to_cluster_structure():
    """The v4 operating point is self-tuning: on a tightly CLUSTERED
    corpus the calibrated probe width collapses to a few lists (true
    neighbors share the query's nearest centroid), while on a uniform
    corpus of the same size/dim it widens to hold the recall target.
    This pins the MECHANISM that makes the point survive scale-up —
    the scan fraction is a property of the data, the recall target is
    held by construction."""
    import numpy as np

    from bucket_to_bigquery_spark.operators.similarity import (
        _calibrate_n_probe,
        _lloyd,
        ivf_operating_point,
    )

    rng = np.random.RandomState(0)
    n, d = 2048, 64
    n_lists = ivf_operating_point(n)  # 45
    centers = rng.randn(32, d) * 10.0
    clustered = (
        np.repeat(centers, n // 32, axis=0) + rng.randn(n, d) * 0.05
    )
    uniform = rng.randn(n, d)
    p_clustered = _calibrate_n_probe(
        clustered, _lloyd(clustered, n_lists, seed=42, iters=4)
    )
    p_uniform = _calibrate_n_probe(
        uniform, _lloyd(uniform, n_lists, seed=42, iters=4)
    )
    assert p_clustered <= 4, p_clustered
    assert p_uniform > 2 * p_clustered, (p_clustered, p_uniform)


def test_ivf_operating_point_scales_with_corpus():
    from bucket_to_bigquery_spark.operators.similarity import (
        _fit_sample_for,
        ivf_operating_point,
    )

    assert ivf_operating_point(500) == 22
    assert ivf_operating_point(2000) == 45
    assert ivf_operating_point(10**6) == 1000
    assert ivf_operating_point(10**9) == 4096      # clamped
    assert ivf_operating_point(0) == 8             # floor
    # fit sample: >= 32 vectors per centroid, bounded driver collect
    assert _fit_sample_for(22) == 4096
    assert _fit_sample_for(1000) == 32000
    assert _fit_sample_for(4096) == 65536


def test_connected_components_multihop_chain(spark):
    """The gate corpus's dup clusters are near-cliques (diameter ~1), so
    this proves the part q46c can't: multi-hop label propagation. A
    30-node chain plus two rings must converge to exact components, with
    singletons preserved from the node universe."""
    from bucket_to_bigquery_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(100, 130)]          # diameter 30
    ring = [(200 + i, 200 + (i + 1) % 8) for i in range(8)]  # cycle
    edges = spark.createDataFrame(chain + ring, ["src", "dst"])
    nodes = spark.createDataFrame([(n,) for n in
                                   list(range(100, 131)) + list(range(200, 208))
                                   + [999]], ["node"])
    got = {r["node"]: r["cluster_id"]
           for r in connected_components(edges, nodes=nodes).collect()}
    assert all(got[n] == 100 for n in range(100, 131)), "chain not converged"
    assert all(got[n] == 200 for n in range(200, 208)), "ring not converged"
    assert got[999] == 999, "singleton lost"


def test_q48d_prebuilt_index_matches_inline_ivf(spark, sf_dir):
    """The prebuilt-index probe must reproduce the inline-built IVF result
    exactly: same seed + same sample-fit ⇒ same centroids ⇒ same lists ⇒
    same candidates ⇒ same exact-cosine re-rank."""
    qs = all_queries()
    inline = [tuple(r) for r in
              qs["q48c_ivf_topk"].builder(spark, sf_dir).collect()]
    prebuilt = [tuple(r) for r in
                qs["q48d_ivf_prebuilt"].builder(spark, sf_dir).collect()]
    assert prebuilt == inline


def test_signgrid_tolerates_duplicate_query_rows(spark):
    # pair-dedup runs BEFORE query features re-attach (r7 rewrite): a
    # duplicated query row must not fan deduped pairs back out into
    # duplicate neighbors in the top-k (the pre-r7 score-then-dedup
    # order tolerated this input; the contract is pinned here)
    from bucket_to_bigquery_spark.operators.similarity import signgrid_ann_topk

    vecs = [
        (1, [1.0, 2.0, -1.0, 0.5]),
        (2, [1.1, 1.9, -0.9, 0.4]),
        (3, [-1.0, -2.0, 1.0, -0.5]),
        (4, [0.9, 2.1, -1.2, 0.6]),
    ]
    corpus = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q_one = spark.createDataFrame(vecs[:1], ["vec_id", "embedding"])
    q_dup = q_one.unionAll(q_one)

    def ranked(df):
        return [tuple(r) for r in df.orderBy("q_id", "rank").collect()]

    base = ranked(signgrid_ann_topk(corpus, q_one, k=3, bands=2, bits=2))
    dup = ranked(signgrid_ann_topk(corpus, q_dup, k=3, bands=2, bits=2))
    assert dup == base
    n_ids = [r[2] for r in dup]
    assert len(n_ids) == len(set(n_ids)), f"duplicate neighbors: {n_ids}"


def test_signgrid_preserves_non_long_id_types(spark):
    # the Arrow scoring stage derives its output schema from the input
    # id dtype — string document ids (valid pre-r7) must still work
    from bucket_to_bigquery_spark.operators.similarity import signgrid_ann_topk

    vecs = [
        ("docA", [1.0, 2.0, -1.0, 0.5]),
        ("docB", [1.1, 1.9, -0.9, 0.4]),
        ("docC", [-1.0, -2.0, 1.0, -0.5]),
    ]
    corpus = spark.createDataFrame(vecs, ["doc_id", "embedding"])
    queries = spark.createDataFrame(vecs[:1], ["doc_id", "embedding"])
    out = signgrid_ann_topk(corpus, queries, id_col="doc_id", k=2,
                            bands=2, bits=2)
    assert dict(out.dtypes)["q_id"] == "string"
    assert dict(out.dtypes)["n_id"] == "string"
    rows = out.collect()
    assert rows and all(r["q_id"] == "docA" for r in rows)
    assert {r["n_id"] for r in rows} <= {"docB", "docC"}


def test_connected_components_rejects_zero_iterations(spark):
    # below 1 the seed labels still read the freed edge checkpoint
    # blocks: fail before the computation, not after it
    import pytest as _pytest

    from bucket_to_bigquery_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with _pytest.raises(ValueError, match="max_iterations"):
        connected_components(edges, max_iterations=0)
