"""q127 embedding outlier audit (embed_outliers.py), q128 hourly
seasonality profile (seasonality.py), q129 ship-latency percentiles
(latency.py).

Same checks as tests/test_staged_r14.py: registration and full Python
brute-force replays + plan pins per entry. The q127 replay recomputes
the scaled-int centroid/distance math from raw floats — an independent
pin of the q69/q62 + q98 contracts, not a call into the builder's
expressions.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from bucket_to_bigquery_spark.queries import (
    embed_outliers,
    latency,
    seasonality,
)
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import module_entries

ENTRIES = module_entries(embed_outliers, seasonality, latency)

_US_PER_HOUR = 3_600_000_000
_US_PER_DAY = 86_400_000_000


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _round_half_away(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def _micros(ts) -> int:
    # exact integer microseconds — float .timestamp() loses sub-µs
    # precision at ~1e15 magnitudes (the r13b review finding)
    import calendar

    return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond


# ---------------------------------------------------------------------------
# 1. Registration
# ---------------------------------------------------------------------------


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q127_embedding_outliers",
        "q128_hourly_seasonality",
        "q129_ship_latency_percentiles",
    ]
    for q in ENTRIES.values():
        assert q.oracle and q.description, q.name


# ---------------------------------------------------------------------------
# q127 — embedding outlier audit
# ---------------------------------------------------------------------------


def test_q127_matches_bruteforce(spark, sf_dir):
    """Independent replay of the scaled-int distance: e6 components,
    exact integer dim sums, one-double centroid coordinates, per-dim
    squared deviations rounded then integer-summed."""
    rows = tables(spark, sf_dir)["embeddings"].collect()
    by_label: dict = defaultdict(list)
    for r in rows:
        comps = [_round_half_away(float(x) * 1e6) for x in r.embedding]
        by_label[r.label].append((r.vec_id, comps))
    expect = []
    for lbl in sorted(by_label):
        vecs = by_label[lbl]
        n = len(vecs)
        dim = len(vecs[0][1])
        cent = [sum(v[1][j] for v in vecs) / n for j in range(dim)]
        scored = []
        for vid, comps in vecs:
            dist = sum(
                _round_half_away((comps[j] - cent[j]) * (comps[j] - cent[j]))
                for j in range(dim)
            )
            scored.append((-dist, vid))
        scored.sort()
        for rank, (nd, vid) in enumerate(scored[: embed_outliers._TOP], 1):
            expect.append((lbl, vid, rank, -nd))
    got = _run("q127_embedding_outliers", spark, sf_dir).collect()
    assert [(r.label, r.vec_id, r.rank, r.dist_sq_e12) for r in got] == expect


def test_q127_plan_broadcast_no_cartesian(spark, sf_dir):
    """The centroid frame must ride a broadcast; vectors never join
    vectors."""
    plan = _plan(spark, sf_dir, "q127_embedding_outliers")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# q128 — hourly seasonality
# ---------------------------------------------------------------------------


def test_q128_matches_bruteforce(spark, sf_dir):
    ev = tables(spark, sf_dir)["events"].select("ts").collect()
    cells: Counter = Counter()
    for r in ev:
        us = _micros(r.ts)
        cells[((us // _US_PER_DAY + 3) % 7, (us // _US_PER_HOUR) % 24)] += 1
    n_dow: Counter = Counter()
    for (dw, _), n in cells.items():
        n_dow[dw] += n
    chi: dict = {}
    for dw in n_dow:
        e = n_dow[dw] / 24
        observed = [h for (d2, h) in cells if d2 == dw]
        total = sum(
            _round_half_away((cells[(dw, h)] - e) * (cells[(dw, h)] - e)
                             / e * 1e6)
            for h in observed
        )
        chi[dw] = int(total + (24 - len(observed)) * _round_half_away(e * 1e6))
    got = _run("q128_hourly_seasonality", spark, sf_dir).collect()
    assert [(r.dow, r.hour) for r in got] == sorted(cells)
    for r in got:
        assert r.n_events == cells[(r.dow, r.hour)]
        assert abs(r.dow_share_e6 - _round_half_away(
            cells[(r.dow, r.hour)] / n_dow[r.dow] * 1e6)) <= 1
        assert abs(r.chi2_e6 - chi[r.dow]) <= len(cells)


def test_q128_weekday_shares_sum_to_one(spark, sf_dir):
    got = _run("q128_hourly_seasonality", spark, sf_dir).collect()
    per_dow: dict = defaultdict(int)
    for r in got:
        per_dow[r.dow] += r.dow_share_e6
    for dw, s in per_dow.items():
        assert abs(s - 1_000_000) <= 24, f"dow {dw} shares sum to {s}"


# ---------------------------------------------------------------------------
# q129 — ship-latency percentiles
# ---------------------------------------------------------------------------


def test_q129_matches_bruteforce(spark, sf_dir):
    t = tables(spark, sf_dir)
    orders = {r.o_orderkey: (r.o_orderpriority, _micros(r.o_orderdate))
              for r in t["orders"].collect()}
    lats: dict = defaultdict(list)
    for li in t["lineitem"].select("l_orderkey", "l_shipdate").collect():
        pr, ous = orders[li.l_orderkey]
        diff = _micros(li.l_shipdate) - ous
        # truncate toward zero like Spark `div` / DuckDB `//` — Python
        # // floors, which diverges on negative intra-day latencies
        # (review finding; midnight-aligned data masks it today)
        d = abs(diff) // _US_PER_DAY
        lats[pr].append(d if diff >= 0 else -d)
    got = _run("q129_ship_latency_percentiles", spark, sf_dir).collect()
    assert [r.priority for r in got] == sorted(lats)
    for r in got:
        xs = sorted(lats[r.priority])
        n = len(xs)
        assert r.n_lines == n
        assert r.max_days == xs[-1]
        for p in latency._PS:
            # the explicit disc rule: value at rank ceil(p·n)
            want = xs[math.ceil(p / 100 * n) - 1]
            assert getattr(r, f"p{p}_days") == want, (r.priority, p)


def test_q129_percentiles_are_monotone(spark, sf_dir):
    got = _run("q129_ship_latency_percentiles", spark, sf_dir).collect()
    for r in got:
        seq = [getattr(r, f"p{p}_days") for p in latency._PS] + [r.max_days]
        assert seq == sorted(seq)


def test_q129_plan_compresses_before_window(spark, sf_dir):
    """The cumulative window must run on the count-compressed frame —
    an aggregation (the compress) appears BELOW the window, and no
    cartesian/global sort of the fact table exists."""
    plan = _plan(spark, sf_dir, "q129_ship_latency_percentiles")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    before_window = plan.split("Window", 1)[1]
    assert "HashAggregate" in before_window  # compress below the window
