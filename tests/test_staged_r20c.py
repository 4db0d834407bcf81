"""Third staged batch for ROUND-20 registration (built late r14,
GATE_r14.md): q171 rendezvous (HRW) shard assignment with the
minimal-movement audit (rendezvous.py) and q172 the dataset-card
composition grid (datacard.py).

Same checks as tests/test_staged_r20.py: staging containment, oracle
parity through the driver-mirror harness, full Python replays, and
plan/property pins (including the rendezvous minimal-movement LAW:
every mover lands on the new shard).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import datacard, rendezvous
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import compare, duck_connection, toks_replay

_STAGED_MODULES = (rendezvous, datacard)

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for mod in _STAGED_MODULES
    for name, (fn, oracle, desc, tags) in mod.STAGED.items()
}


def _run(name, spark, sf_dir):
    return STAGED[name].builder(spark, sf_dir)


def test_staged_entries_are_not_registered():
    reg = all_queries()
    assert sorted(STAGED) == [
        "q171_rendezvous_sharding", "q172_dataset_card"]
    for name in STAGED:
        assert name not in reg, (
            f"{name} is registered — the r20 staging plan "
            "(GATE_r14.md) no longer matches"
        )


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in sorted(STAGED):
            problems = compare(name, spark, duck, sf_dir, STAGED)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


def _score(doc_id: int, s: int) -> int:
    return int(hashlib.md5(f"{doc_id}:{s}".encode()).hexdigest()[:15], 16)


def test_q171_matches_bruteforce_and_movement_law(spark, sf_dir):
    rows = tables(spark, sf_dir)["documents"].select("doc_id").collect()
    n8: dict = defaultdict(int)
    n9: dict = defaultdict(int)
    stayed: dict = defaultdict(int)
    moved_in: dict = defaultdict(int)
    for r in rows:
        sc = [(-_score(r.doc_id, s), s) for s in range(9)]
        s9 = min(sc)[1]
        s8 = min(x for x in sc if x[1] < 8)[1]
        n8[s8] += 1
        n9[s9] += 1
        if s8 == s9:
            stayed[s8] += 1
        else:
            moved_in[s9] += 1
            # THE RENDEZVOUS LAW: a document moves only when the NEW
            # shard out-scores every old one — so every mover lands
            # on shard 8
            assert s9 == 8, (r.doc_id, s8, s9)
    got = _run("q171_rendezvous_sharding", spark, sf_dir).collect()
    assert [r.shard for r in got] == list(range(9))
    for r in got:
        assert (r.n_k8, r.n_k9) == (n8[r.shard], n9[r.shard])
        assert (r.stayed, r.moved_in) == (stayed[r.shard],
                                          moved_in[r.shard])
    # movement mass ≈ 1/9 of the corpus (binomial around n/9; the law
    # above is exact, this bound just catches a broken hash)
    total = len(rows)
    moved = sum(moved_in.values())
    assert 0 < moved < total // 3


def test_q172_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["documents"].select(
        "lang", "n_chars", "text").collect()
    docs: dict = defaultdict(int)
    toks: dict = defaultdict(int)
    for r in rows:
        band = min(r.n_chars // 256, 7)
        k = (r.lang, band)
        docs[k] += 1
        toks[k] += len(toks_replay(r.text))
    lang_tot: dict = defaultdict(int)
    for (lang, _), t in toks.items():
        lang_tot[lang] += t
    got = _run("q172_dataset_card", spark, sf_dir).collect()
    assert [(r.lang, r.band) for r in got] == sorted(docs)
    for r in got:
        k = (r.lang, r.band)
        assert (r.n_docs, r.n_tokens) == (docs[k], toks[k])
        assert r.lang_token_share_e6 == (
            toks[k] * 1_000_000 // lang_tot[r.lang])
    # shares within a language must cover ~100% (truncation loses <1e-6
    # per cell)
    by_lang: dict = defaultdict(int)
    for r in got:
        by_lang[r.lang] += r.lang_token_share_e6
    for lang, share in by_lang.items():
        assert 999_990 <= share <= 1_000_000, (lang, share)


def test_q171_constant_fanout_plan(spark, sf_dir):
    df = STAGED["q171_rendezvous_sharding"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the exploded score frame feeds both argmaxes through the cache
    assert plan.count("InMemoryTableScan") >= 2


def test_q172_grid_cached_single_fact_pass(spark, sf_dir):
    df = STAGED["q172_dataset_card"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # language totals derive from the cached grid, never a second
    # tokenize pass over the fact table
    assert plan.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in plan
