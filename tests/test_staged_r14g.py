"""q134 funnel time-to-convert percentiles (funnel_ttc.py) — the q63b
strict min-ts chaining carried to conversion-delay percentiles via the
q129 count-compress plan.

Same checks as tests/test_staged_r14.py: registration and a full Python
replay (funnel chaining + explicit disc percentile rule from raw events)
+ plan pins.
"""

from __future__ import annotations

import calendar
import math
from collections import defaultdict

from bucket_to_bigquery_spark.queries import funnel_ttc
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import module_entries

ENTRIES = module_entries(funnel_ttc)


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _micros(ts) -> int:
    return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q134_funnel_ttc_percentiles",
    ]
    for q in ENTRIES.values():
        assert q.oracle and q.description, q.name


def _funnel_times(rows):
    """Replay the q63b chaining: first view; first click strictly after
    it; first purchase strictly after that. Times in exact micros."""
    by_user: dict = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.event_type, _micros(r.ts)))
    t1, t2, t3 = {}, {}, {}
    for u, evs in by_user.items():
        views = [t for e, t in evs if e == "view"]
        if not views:
            continue
        t1[u] = min(views)
        clicks = [t for e, t in evs if e == "click" and t > t1[u]]
        if not clicks:
            continue
        t2[u] = min(clicks)
        purchases = [t for e, t in evs if e == "purchase" and t > t2[u]]
        if purchases:
            t3[u] = min(purchases)
    return t1, t2, t3


def test_q134_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_type").collect()
    t1, t2, t3 = _funnel_times(rows)
    transitions = {
        1: [(t2[u] - t1[u]) // 1_000_000 for u in t2],
        2: [(t3[u] - t2[u]) // 1_000_000 for u in t3],
        3: [(t3[u] - t1[u]) // 1_000_000 for u in t3],
    }
    got = _run("q134_funnel_ttc_percentiles", spark, sf_dir).collect()
    expect_stages = sorted(s for s, v in transitions.items() if v)
    assert [r.stage for r in got] == expect_stages
    for r in got:
        xs = sorted(transitions[r.stage])
        assert r.n_users == len(xs)
        assert r.max_s == xs[-1]
        for p in funnel_ttc._PS:
            assert getattr(r, f"p{p}_s") == xs[math.ceil(p / 100 * len(xs)) - 1]


def test_q134_end_to_end_dominates_legs(spark, sf_dir):
    """view→purchase is the sum of the two legs per user, so its
    median cannot undercut the view→click median (delays positive)."""
    got = {r.stage: r for r in
           _run("q134_funnel_ttc_percentiles", spark, sf_dir).collect()}
    assert got[3].n_users == got[2].n_users  # same survivor set
    assert got[3].p50_s >= got[1].p50_s or got[1].n_users > got[3].n_users
    for r in got.values():
        seq = [getattr(r, f"p{p}_s") for p in funnel_ttc._PS] + [r.max_s]
        assert seq == sorted(seq)
        assert all(x >= 0 for x in seq)  # strict chaining ⇒ positive


def test_q134_plan_compresses_before_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q134_funnel_ttc_percentiles")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    below = plan.split("Window", 1)[1]
    assert "HashAggregate" in below  # the count-compress sits below