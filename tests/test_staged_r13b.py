"""q97 association rules (rules.py), q98 Zipf slope (zipf.py), q99
inter-arrival burstiness (arrivals.py), q100 embedding class separation
(separation.py).

Same three checks as tests/test_staged_r13.py: registration, oracle
parity through the driver-mirror harness, and full Python brute-force
replays + plan pins per entry.
"""

from __future__ import annotations

import math
from collections import defaultdict

from bucket_to_bigquery_spark.queries import (
    arrivals,
    rules,
    separation,
    zipf,
)
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(rules, zipf, arrivals, separation)


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _round_half_away(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def _toks(text: str) -> list[str]:
    return " ".join(text.lower().split()).split(" ") if text else [""]


# ---------------------------------------------------------------------------
# 1. Registration wiring
# ---------------------------------------------------------------------------


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q100_class_separation",
        "q97_association_rules",
        "q98_zipf_slope",
        "q99_interarrival_burstiness",
    ]
    for q in ENTRIES.values():
        assert q.oracle and q.description, q.name


# ---------------------------------------------------------------------------
# 2. Oracle parity
# ---------------------------------------------------------------------------


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in sorted(ENTRIES):
            problems = compare(name, spark, duck, sf_dir, ENTRIES)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


# ---------------------------------------------------------------------------
# 3. q97 — association rules
# ---------------------------------------------------------------------------


def test_q97_matches_bruteforce(spark, sf_dir):
    """Exact replay of user-basket supports; conf/lift within a unit;
    NULL users basketless; floor enforced."""
    from bucket_to_bigquery_spark.queries.rules import _MIN_PAIR

    ev = tables(spark, sf_dir)["events"].select(
        "user_id", "event_type").collect()
    baskets: dict = defaultdict(set)
    for r in ev:
        if r.user_id is not None:
            baskets[r.user_id].add(r.event_type)
    n_users = len(baskets)
    sup: dict = defaultdict(int)
    pair: dict = defaultdict(int)
    for types in baskets.values():
        for a in types:
            sup[a] += 1
        for a in types:
            for b in types:
                if a != b:
                    pair[(a, b)] += 1
    expect = {k: v for k, v in pair.items() if v >= _MIN_PAIR}
    got = {(r.antecedent, r.consequent): r
           for r in _run("q97_association_rules", spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for (a, b), c_ab in expect.items():
        r = got[(a, b)]
        assert (r.n_users, r.sup_a, r.sup_b, r.sup_ab) == (
            n_users, sup[a], sup[b], c_ab)
        assert abs(r.confidence_e6 - _round_half_away(c_ab / sup[a] * 1e6)) <= 1
        assert abs(r.lift_e6 - _round_half_away(
            c_ab * n_users / (sup[a] * sup[b]) * 1e6)) <= 1
        # confidence is a probability
        assert 0 < r.confidence_e6 <= 1_000_000
    # the rule readout is symmetric in SUPPORT but directed in
    # CONFIDENCE: dual rules share sup_ab but swap the denominator
    for (a, b), r in got.items():
        if (b, a) in got:
            assert got[(b, a)].sup_ab == r.sup_ab


def test_q97_single_distinct_exchange_broadcast_supports(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q97_association_rules")
    assert plan.count("InMemoryTableScan") >= 3  # cached item frame reused
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # supports broadcast


# ---------------------------------------------------------------------------
# 3. q98 — Zipf slope
# ---------------------------------------------------------------------------


def test_q98_matches_bruteforce(spark, sf_dir):
    """Replay ranks + e12-rounded regression terms + integer sums +
    OLS; slope within ±2 e6-units for libm ulps; natural-language-ish
    corpora slope negative."""
    from bucket_to_bigquery_spark.queries.zipf import _R

    docs = tables(spark, sf_dir)["documents"].select("source", "text").collect()
    tc: dict = defaultdict(lambda: defaultdict(int))
    for r in docs:
        for t in _toks(r.text):
            tc[r.source][t] += 1
    got = {r.source: r for r in _run("q98_zipf_slope", spark, sf_dir).collect()}
    assert set(got) == set(tc)
    for s, counts in tc.items():
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_R]
        sx = sy = sxy = sxx = 0
        for i, (_, c) in enumerate(ranked, start=1):
            lr, lc = math.log(i), math.log(c)
            sx += _round_half_away(lr * 1e12)
            sy += _round_half_away(lc * 1e12)
            sxy += _round_half_away(lr * lc * 1e12)
            sxx += _round_half_away(lr * lr * 1e12)
        n = len(ranked)
        r = got[s]
        assert r.n_ranks == n
        if n < 2:
            assert r.zipf_slope_e6 is None
            continue
        slope = ((n * (sxy / 1e12) - (sx / 1e12) * (sy / 1e12))
                 / (n * (sxx / 1e12) - (sx / 1e12) * (sx / 1e12)))
        assert abs(r.zipf_slope_e6 - _round_half_away(slope * 1e6)) <= 2, s
        assert r.zipf_slope_e6 < 0, s  # frequencies decay with rank


def test_q98_rank_window_on_count_frame(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q98_zipf_slope")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan or "Window" in plan


# ---------------------------------------------------------------------------
# 3. q99 — inter-arrival burstiness
# ---------------------------------------------------------------------------


def test_q99_matches_bruteforce(spark, sf_dir):
    """Replay integer-microsecond gaps under the (epoch_us, event_id)
    total order; exact moments; statistics within a unit; B ∈ (−1, 1)."""
    ev = tables(spark, sf_dir)["events"].select(
        "event_id", "ts", "event_type").collect()
    import calendar

    per_type: dict = defaultdict(list)
    for r in ev:
        # exact integer microseconds: float .timestamp() loses sub-µs
        # precision at ~1e15 magnitudes (review finding); a constant
        # UTC-vs-local offset cancels in the gaps
        us = (calendar.timegm(r.ts.timetuple()) * 1_000_000
              + r.ts.microsecond)
        per_type[r.event_type].append((us, r.event_id))
    got = {r.event_type: r
           for r in _run("q99_interarrival_burstiness", spark, sf_dir).collect()}
    expect_types = {t for t, rows in per_type.items() if len(rows) >= 3}
    assert set(got) == expect_types
    for t, rows in per_type.items():
        if t not in expect_types:
            continue
        rows.sort()
        gaps = [b[0] - a[0] for a, b in zip(rows, rows[1:])]
        n, s = len(gaps), sum(gaps)
        s2 = sum(g * g for g in gaps)
        r = got[t]
        assert r.n_gaps == n
        assert r.mean_gap_us == _round_half_away(s / n)
        sd = math.sqrt(max((s2 - s * s / n) / n, 0.0))
        mean = s / n
        assert abs(r.cv_e6 - _round_half_away(sd / mean * 1e6)) <= 1, t
        b = (sd - mean) / (sd + mean)
        assert abs(r.burstiness_e6 - _round_half_away(b * 1e6)) <= 1, t
        assert -1_000_000 < r.burstiness_e6 < 1_000_000


def test_q99_single_type_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q99_interarrival_burstiness")
    assert "CartesianProduct" not in plan
    # ONE structural exchange: the event_type hash partitioning feeds
    # both the window sort and the (map-side-combined) moment agg
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(event_type", plan)
    assert len(exchanges) == 1, plan


# ---------------------------------------------------------------------------
# 3. q100 — class separation
# ---------------------------------------------------------------------------


def test_q100_matches_bruteforce(spark, sf_dir):
    """Exact-integer replay of both scatters (Python bigints), same
    final double formulas; Fisher from the rounded BIGINTs exactly."""
    emb = tables(spark, sf_dir)["embeddings"].select(
        "label", "embedding").collect()
    by_label: dict = defaultdict(list)
    for r in emb:
        c = [_round_half_away(float(x) * 1e6) for x in r.embedding]
        by_label[r.label].append(c)
    dims = len(next(iter(by_label.values()))[0])
    S = {lb: [sum(v[d] for v in vs) for d in range(dims)]
         for lb, vs in by_label.items()}
    G = [sum(S[lb][d] for lb in S) for d in range(dims)]
    N = sum(len(vs) for vs in by_label.values())
    got = {r.label: r for r in _run("q100_class_separation", spark, sf_dir).collect()}
    assert set(got) == set(by_label)
    for lb, vs in by_label.items():
        n = len(vs)
        q = sum(sum(x * x for x in v) for v in vs)
        ss = sum(s * s for s in S[lb])
        # within: the Q*n - SS subtraction is EXACT (decimal/bigint on
        # the engines, Python bigint here); only the final value is a double
        within = _round_half_away(
            float(q * n - ss) / (float(n) * float(n)) / 1e6)
        # between: per-dim centroid-difference square, e12-rounded,
        # integer-summed (the q98 per-term contract)
        bsum = 0
        for d in range(dims):
            diff = (S[lb][d] / (float(n) * 1e6)
                    - G[d] / (float(N) * 1e6))
            bsum += _round_half_away(diff * diff * 1e12)
        between = _round_half_away(float(bsum) / 1e6)
        r = got[lb]
        assert r.n_vecs == n
        assert abs(r.within_e6 - within) <= 1, lb
        assert abs(r.between_e6 - between) <= 1, lb
        assert r.within_e6 >= 0 and r.between_e6 >= 0  # variance identity
        if r.within_e6 == 0:
            assert r.fisher_e6 is None
        else:
            assert r.fisher_e6 == _round_half_away(
                r.between_e6 / r.within_e6 * 1e6)


def test_q100_vectors_never_shuffle(spark, sf_dir):
    """The q69 scale shape: the only row-count-sized frames are the two
    linear passes over the cached scaled projection; no vector-carrying
    exchange, no cartesian, stats joins broadcast."""
    plan = _plan(spark, sf_dir, "q100_class_separation")
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2
    assert plan.count("BroadcastHashJoin") >= 2
