"""q57 Bloom decontamination, q58 snapshot diff, q59 weighted sample,
q60 Z-order layout, q61 HLL union and q62 JL projection (bloom,
snapshot, sampling_ext, layout, hll, projections).

Checked here:

1. **Registration** — the modules register exactly these entries, each
   with its oracle and description.
2. **Per-family semantics** beyond the hash oracle (Bloom has no false
   negatives, the CDC diff hits every planted branch, the weighted
   sample actually upweights, the z-layout shows locality, the HLL union
   lands in bounds, the JL projection preserves norms). Driver-faithful
   oracle parity is covered by test_oracle_parity.py.
"""

from __future__ import annotations

from bucket_to_bigquery_spark.queries import (
    bloom,
    hll,
    layout,
    projections,
    sampling_ext,
    snapshot,
)

from .oracle import module_entries


ENTRIES = module_entries(
    bloom, snapshot, sampling_ext, layout, hll, projections,
)


# ---------------------------------------------------------------------------
# 1. Registration
# ---------------------------------------------------------------------------


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q57_bloom_decontamination",
        "q58_snapshot_diff",
        "q59_weighted_sample",
        "q60_zorder_layout",
        "q61_hll_sketch_union",
        "q62_jl_sign_projection",
    ]
    for q in ENTRIES.values():
        assert q.oracle and q.description, q.name


# ---------------------------------------------------------------------------
# Per-family semantics
# ---------------------------------------------------------------------------


def test_q57_bloom_has_no_false_negatives(spark, sf_dir):
    rows = ENTRIES["q57_bloom_decontamination"].builder(spark, sf_dir).collect()
    assert rows
    contaminated = [r for r in rows if r["n_exact_contaminated"] > 0]
    assert contaminated, "no exact contamination — the benchmark split is wrong"
    for r in rows:
        # Bloom membership is a superset of true membership, per shingle —
        # so per doc the flagged count can never undercount
        assert r["n_bloom_flagged"] >= r["n_exact_contaminated"], r
        assert r["n_false_positive"] == r["n_bloom_flagged"] - r["n_exact_contaminated"]
        if r["n_exact_contaminated"] > 0:
            assert r["bloom_would_drop"], r
        assert 0 <= r["n_bloom_flagged"] <= r["n_shingles"] or r["n_shingles"] == 0


def test_q58_diff_hits_every_planted_branch(spark, sf_dir):
    rows = ENTRIES["q58_snapshot_diff"].builder(spark, sf_dir).collect()
    by_status: dict = {}
    for r in rows:
        by_status.setdefault(r["status"], []).append(r)
    assert set(by_status) == {"added", "removed", "changed"}
    for r in by_status["removed"]:
        assert r["doc_id"] % 13 == 7 and r["new_fp"] is None, r
    for r in by_status["changed"]:
        assert r["doc_id"] % 11 == 5 and r["old_fp"] != r["new_fp"], r
    for r in by_status["added"]:
        assert r["doc_id"] >= 900000 and r["old_fp"] is None, r


def test_q59_sample_upweights_and_ranks_contiguously(spark, sf_dir):
    from pyspark.sql import functions as F

    from bucket_to_bigquery_spark.queries.registry import tables

    rows = ENTRIES["q59_weighted_sample"].builder(spark, sf_dir).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["rank"])
    for lang, ranks in by_lang.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), lang
    # the exponential key favors heavy docs: the sampled mean weight must
    # exceed the corpus mean. The margin is bounded by the corpus's own
    # weight dispersion (A-ES inclusion ∝ weight, so the sample mean
    # approaches E[w²]/E[w] ≈ 1.1–1.2× here — n_chars is not very
    # dispersed); 5% cleanly separates 'weighted' from 'uniform' noise
    # at every sf without overfitting the margin to one corpus.
    corpus_mean = (
        tables(spark, sf_dir)["documents"]
        .agg(F.avg(F.greatest(F.col("n_chars"), F.lit(1))))
        .head()[0]
    )
    sample_mean = sum(r["weight"] for r in rows) / len(rows)
    assert sample_mean > 1.05 * corpus_mean, (sample_mean, corpus_mean)


def test_q60_zorder_buckets_show_two_dim_locality(spark, sf_dir):
    from bucket_to_bigquery_spark.queries.registry import tables

    rows = ENTRIES["q60_zorder_layout"].builder(spark, sf_dir).collect()
    assert 1 < len(rows) <= 64
    total = sum(r["n_rows"] for r in rows)
    assert total == tables(spark, sf_dir)["events"].count()
    full = 1 << 10
    # every z-bucket confines BOTH dimensions: with 6 bucket bits (3 per
    # dim) each span is at most ~1/8 of the domain, not the full range a
    # single-dim sort leaves on its secondary column
    for r in rows:
        assert r["d1_span"] <= full // 8, r
        assert r["d2_span"] <= full // 8, r


def test_q62_projection_preserves_norms(spark, sf_dir):
    """The JL guarantee the q62 docstring claims: E[(Σ sᵢxᵢ)²] = ‖x‖² per
    output dim, so the per-vector mean of squared projected components
    tracks the squared input norm. One fixed ±1 matrix has variance, so
    pin per-vector ratios loosely and the corpus-mean ratio tightly."""
    import numpy as np

    from bucket_to_bigquery_spark.queries.registry import tables

    rows = ENTRIES["q62_jl_sign_projection"].builder(spark, sf_dir).collect()
    src = {
        r["vec_id"]: np.asarray(r["embedding"], dtype="float64")
        for r in tables(spark, sf_dir)["embeddings"].collect()
    }
    assert len(rows) == len(src)
    ratios = []
    for r in rows:
        proj = np.array([int(v) for v in r["proj"].split(",")], dtype="float64")
        assert proj.shape == (16,)
        norm2 = float(np.sum(np.rint(src[r["vec_id"]] * 1e6) ** 2))
        ratios.append(float(np.mean(proj**2)) / norm2)
    ratios = np.asarray(ratios)
    assert np.all((ratios > 0.05) & (ratios < 20)), (ratios.min(), ratios.max())
    assert 0.5 < float(ratios.mean()) < 2.0, ratios.mean()


def test_q61_union_estimates_in_bounds(spark, sf_dir):
    rows = ENTRIES["q61_hll_sketch_union"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["union_ok"], r
        assert 1 <= r["n_shards"] <= 8, r
        assert r["exact_users"] >= 1
