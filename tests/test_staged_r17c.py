"""Third r13-staged batch for ROUND-17 registration: q144 int8
scalar-quantization calibration audit (sq.py) and q145 frequent item
triples (triples.py).

Same checks as tests/test_staged_r17.py: staging containment, oracle
parity through the driver-mirror harness, full Python replays from
raw rows, and plan pins on the scale contracts.
"""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import sq, triples
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import compare, duck_connection, round_half_away

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for mod in (sq, triples)
    for name, (fn, oracle, desc, tags) in mod.STAGED.items()
}


def _run(name, spark, sf_dir):
    return STAGED[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = STAGED[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


_round_half_away = round_half_away


def test_staged_entries_are_not_registered():
    reg = all_queries()
    assert len(STAGED) == 2
    for name in STAGED:
        assert name not in reg, (
            f"{name} is registered — the r17 staging plan "
            "(GATE_r13.md) no longer matches"
        )


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in sorted(STAGED):
            problems = compare(name, spark, duck, sf_dir, STAGED)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


# ---------------------------------------------------------------------------
# q144 — scalar-quantization calibration
# ---------------------------------------------------------------------------


def test_q144_matches_bruteforce(spark, sf_dir):
    vecs = [list(r.embedding) for r in
            tables(spark, sf_dir)["embeddings"].select(
                "embedding").collect()]
    d = len(vecs[0])
    got = {r.dim: r for r in
           _run("q144_sq_calibration", spark, sf_dir).collect()}
    assert sorted(got) == list(range(d))
    for dim in range(d):
        xs = [float(v[dim]) for v in vecs]
        mn, mx = min(xs), max(xs)
        scale = (mx - mn) / 255.0
        sat, err = 0, 0
        for x in xs:
            code = (0 if mx == mn else
                    int(min(255.0, max(0.0, float(
                        _round_half_away((x - mn) / scale))))))
            sat += code in (0, 255)
            recon = mn + float(code) * scale
            err += _round_half_away((x - recon) * (x - recon) * 1e12)
        r = got[dim]
        assert (r.mn, r.mx, r.n) == (mn, mx, len(xs))
        assert r.n_saturated == sat, dim
        assert r.err2_e12 == err, dim


def test_q144_constant_dim_codes_to_zero_error(spark, sf_dir):
    """Every dim's error is non-negative and a constant dim (mn == mx)
    reports zero error and full saturation-at-0."""
    got = _run("q144_sq_calibration", spark, sf_dir).collect()
    for r in got:
        assert r.err2_e12 >= 0
        assert 0 <= r.n_saturated <= r.n
        if r.mn == r.mx:
            assert r.err2_e12 == 0
            assert r.n_saturated == r.n  # all codes are 0


def test_q144_plan_broadcast_calibration_no_window(spark, sf_dir):
    """Two linear passes: the 64-row calibration frame attaches by
    broadcast; vectors never shuffle; no window, no fact sort."""
    plan = _plan(spark, sf_dir, "q144_sq_calibration")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# q145 — frequent triples
# ---------------------------------------------------------------------------


def test_q145_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_partkey").collect()
    baskets = defaultdict(set)
    for r in rows:
        baskets[r.l_orderkey].add(r.l_partkey)
    support: dict = defaultdict(int)
    for items in baskets.values():
        for t in combinations(sorted(items), 3):
            support[t] += 1
    expect = sorted(
        ((-s, *t) for t, s in support.items())
    )[:20]
    got = [(-r.support, r.p1, r.p2, r.p3) for r in
           _run("q145_frequent_triples", spark, sf_dir).collect()]
    assert got == expect


def test_q145_plan_takeordered_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q145_frequent_triples")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort
    assert "InMemoryTableScan" in plan  # cached (basket, item) frame
