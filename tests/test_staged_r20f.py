"""Sixth staged batch for ROUND-20 registration (built late r14,
GATE_r14.md): q176 consistent (hash-threshold) sampling audit
(consample.py).

Checks: staging containment, oracle parity through the driver-mirror
harness, a full Python replay, the CONSISTENCY law (membership is a
pure function of doc_id — a corpus subset keeps exactly the same
members), and the nesting law (1% ⊂ 10%).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import consample
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import compare, duck_connection

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for name, (fn, oracle, desc, tags) in consample.STAGED.items()
}

_T1 = (1 << 60) // 100
_T10 = (1 << 60) // 10


def _h(doc_id: int) -> int:
    return int(
        hashlib.md5(f"sample:{doc_id}".encode()).hexdigest()[:15], 16)


def test_staged_entry_is_not_registered():
    reg = all_queries()
    assert sorted(STAGED) == ["q176_consistent_sampling"]
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


def test_q176_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["documents"].select(
        "doc_id", "source").collect()
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for r in rows:
        h = _h(r.doc_id)
        a = agg[r.source]
        a[0] += 1
        a[1] += h < _T1
        a[2] += h < _T10
    got = STAGED["q176_consistent_sampling"].builder(
        spark, sf_dir).collect()
    assert [r.source for r in got] == sorted(agg)
    for r in got:
        a = agg[r.source]
        assert (r.n_docs, r.n_p1, r.n_p10) == tuple(a)
        assert r.rate_p1_e6 == a[1] * 1_000_000 // a[0]
        assert r.rate_p10_e6 == a[2] * 1_000_000 // a[0]
        assert r.nesting_violations == 0  # the law, value-oracled too
    # realized 10% rate lands near nominal corpus-wide (binomial; the
    # bound only catches a broken fold)
    n = sum(a[0] for a in agg.values())
    s10 = sum(a[2] for a in agg.values())
    assert 0.03 * n < s10 < 0.3 * n


def test_q176_membership_is_version_consistent(spark, sf_dir):
    """THE property this sampler exists for: restricting the corpus
    (any subset — here the even doc_ids, a stand-in for a dedup
    re-run) keeps exactly the same members inside the sample."""
    rows = tables(spark, sf_dir)["documents"].select("doc_id").collect()
    full = {r.doc_id for r in rows if _h(r.doc_id) < _T10}
    subset_members = {r.doc_id for r in rows
                      if r.doc_id % 2 == 0 and _h(r.doc_id) < _T10}
    assert subset_members == {d for d in full if d % 2 == 0}


def test_q176_single_pass_no_shuffle_of_docs(spark, sf_dir):
    df = STAGED["q176_consistent_sampling"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
