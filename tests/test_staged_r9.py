"""q04e compaction, q11b full outer join, q49n count-min heavy hitters,
q55/q55b incremental dedup and q56/q56b mixture sampling (joins_ext,
maintenance, sketches, incremental, mixture).

Checked here:

1. **Registration** — the modules register exactly these entries, each
   with its oracle and description.
2. **Per-family semantics** beyond the hash oracle (compaction shrinks
   files, CMS never underestimates, planted dup bands get the expected
   verdicts). Driver-faithful oracle parity is covered by
   test_oracle_parity.py.
"""

from __future__ import annotations

from bucket_to_bigquery_spark.queries import (
    incremental,
    joins_ext,
    maintenance,
    mixture,
    sketches,
)

from .oracle import module_entries


ENTRIES = module_entries(
    joins_ext, mixture, sketches, maintenance, incremental,
)


# ---------------------------------------------------------------------------
# 1. Registration
# ---------------------------------------------------------------------------


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q04e_compaction",
        "q11b_full_outer_join",
        "q49n_heavy_hitters_cms",
        "q55_incremental_dedup",
        "q55b_incremental_dedup_apply",
        "q56_mixture_sampling",
        "q56b_mixture_composition",
    ]
    for q in ENTRIES.values():
        assert q.oracle and q.description, q.name


# ---------------------------------------------------------------------------
# Per-family semantics
# ---------------------------------------------------------------------------


def test_q04e_compaction_shrinks_files(spark, sf_dir):
    stats = maintenance.compact_stats(spark, sf_dir)
    assert stats["files_after"] < stats["files_before"], stats
    assert stats["files_after"] >= 1


def test_q11b_produces_both_unmatched_sides(spark, sf_dir):
    rows = ENTRIES["q11b_full_outer_join"].builder(spark, sf_dir).collect()
    sides = {r["side"] for r in rows}
    assert "both" in sides, "no matched rows — the join key or filters are wrong"
    assert sides <= {"both", "customer_only", "order_only"}
    for r in rows:
        if r["side"] == "customer_only":
            assert r["orderkey"] is None and r["totalprice"] is None
        elif r["side"] == "order_only":
            assert r["acctbal"] is None
        else:
            assert r["orderkey"] is not None and r["acctbal"] is not None


def test_q49n_cms_never_underestimates(spark, sf_dir):
    rows = ENTRIES["q49n_heavy_hitters_cms"].builder(spark, sf_dir).collect()
    assert 0 < len(rows) <= sketches._TOP_K
    for r in rows:
        assert r["est_count"] >= r["exact_count"] >= 1, r


def test_q55_planted_bands_get_expected_verdicts(spark, sf_dir):
    rows = {
        r["doc_id"]: r
        for r in ENTRIES["q55_incremental_dedup"].builder(spark, sf_dir).collect()
    }
    exact = [r for i, r in rows.items() if 500000 <= i < 600000]
    near = [r for i, r in rows.items() if 600000 <= i < 700000]
    fresh = [r for i, r in rows.items() if i >= 700000]
    assert exact and near and fresh
    # exact copies: always duplicates at jaccard exactly 1.0
    for r in exact:
        assert r["n_matches"] >= 1 and r["max_jaccard"] == 1.0, r
    # near copies (3-token tail): overwhelmingly above the 0.6 gate — a
    # very short doc can legitimately fall below it, so assert the rate
    caught = sum(1 for r in near if r["n_matches"] >= 1)
    assert caught >= 0.9 * len(near), f"near-dup recall {caught}/{len(near)}"
    # fresh md5-token docs: shingle-disjoint from natural text by design
    for r in fresh:
        assert r["n_matches"] == 0 and r["max_jaccard"] is None, r


def test_q55b_apply_is_consistent_with_q55(spark, sf_dir):
    verdicts = ENTRIES["q55_incremental_dedup"].builder(spark, sf_dir).collect()
    merged = ENTRIES["q55b_incremental_dedup_apply"].builder(spark, sf_dir).collect()
    survivors = {r["doc_id"] for r in verdicts if r["n_matches"] == 0}
    new_in_merged = {r["doc_id"] for r in merged if r["origin"] == "new"}
    assert new_in_merged == survivors
    hist_n = sum(1 for r in merged if r["origin"] == "historical")
    assert len(merged) == hist_n + len(survivors)


def test_q56_sample_respects_rates_and_composition(spark, sf_dir):
    sample = ENTRIES["q56_mixture_sampling"].builder(spark, sf_dir).collect()
    comp = ENTRIES["q56b_mixture_composition"].builder(spark, sf_dir).collect()
    for r in sample:
        assert r["bucket"] < mixture.MIXTURE_PERMYRIAD[r["lang"]], r
    assert sum(r["n_sampled"] for r in comp) == len(sample)
    for r in comp:
        assert 0 <= r["n_sampled"] <= r["n_total"], r
        assert r["target_permyriad"] == mixture.MIXTURE_PERMYRIAD.get(r["lang"], 0)
