"""Fifth staged batch for ROUND-20 registration (built late r14,
GATE_r14.md): q174 per-dimension embedding health audit
(embedhealth.py) and q175 per-actor burst detection (bursts.py).

Same checks as tests/test_staged_r20.py: staging containment, oracle
parity through the driver-mirror harness, full Python replays, and
plan pins.
"""

from __future__ import annotations

from collections import defaultdict

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import bursts, embedhealth
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import compare, duck_connection, round_half_away

_STAGED_MODULES = (embedhealth, bursts)

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for mod in _STAGED_MODULES
    for name, (fn, oracle, desc, tags) in mod.STAGED.items()
}


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // b
    return q if a >= 0 else -q


def test_staged_entries_are_not_registered():
    reg = all_queries()
    assert sorted(STAGED) == [
        "q174_embedding_health", "q175_burst_detection"]
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


def test_q174_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["embeddings"].select(
        "embedding").collect()
    agg: dict = defaultdict(lambda: [0, 0, 0, 0])
    for r in rows:
        for d, xf in enumerate(r.embedding):
            x = float(xf)
            a = agg[d]
            a[0] += 1
            a[1] += x == 0.0
            a[2] += round_half_away(x * 1e6)
            a[3] += round_half_away(x * x * 1e12)
    got = STAGED["q174_embedding_health"].builder(spark, sf_dir).collect()
    assert [r.dim for r in got] == sorted(agg)
    for r in got:
        a = agg[r.dim]
        assert (r.n, r.zero_n, r.sum_e6, r.energy_e12) == tuple(a)
        assert r.zero_share_e6 == a[1] * 1_000_000 // a[0]
        assert r.mean_e6 == _trunc_div(a[2], a[0])
    # signed means must appear, or the trunc-div convention is
    # untested here
    assert any(r.sum_e6 < 0 for r in got)


def test_q175_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", "ts").collect()
    import calendar

    per_bucket: dict = defaultdict(int)
    for r in rows:
        us = (calendar.timegm(r.ts.timetuple()) * 1_000_000
              + r.ts.microsecond)
        per_bucket[(r.user_id, r.event_type,
                    _trunc_div(us, 600_000_000))] += 1
    ut: dict = {}
    for (u, t, _), c in per_bucket.items():
        cur = ut.setdefault((u, t), [0, 0, 0])
        cur[0] = max(cur[0], c)
        cur[1] += c
        cur[2] += 1
    top = sorted(ut.items(),
                 key=lambda kv: (-kv[1][0], -kv[1][1], kv[0]))[:20]
    got = STAGED["q175_burst_detection"].builder(spark, sf_dir).collect()
    assert [((r.user_id, r.event_type),
             [r.max_burst, r.n_events, r.n_buckets]) for r in got] \
        == [(k, v) for k, v in top]
    for r in got:
        assert r.is_burst == (r.max_burst >= 2)
    # the flag is live exactly when the replay says a burst exists
    # (sf0.001 has none; sf0.01+ has ~15 — both cases assert)
    assert any(r.is_burst for r in got) == (top[0][1][0] >= 2)


def test_q174_no_shuffle_of_vectors(spark, sf_dir):
    df = STAGED["q174_embedding_health"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Join" not in plan  # one combine, nothing to join


def test_q175_takeordered_two_combines(spark, sf_dir):
    df = STAGED["q175_burst_detection"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan  # bucket-combine, never per-event state
