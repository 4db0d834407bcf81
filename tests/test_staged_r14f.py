"""q131 peak concurrent sessions per day (concurrency.py) — the
sweep-line interval operator over the q63 sessionization contract,
built as the two-level segmented scan (within-day prefix peaks +
cross-day carry) — and q132/q133 near-duplicate components
(neardup_cc.py) — the iterative pointer-jumping CC operator hash-pinned
against a recursive-CTE min-label closure.

Same three checks as tests/test_staged_r14.py: registration, oracle
parity through the driver-mirror harness, and full Python brute-force
replays + plan pins. The q131 replay runs the NAIVE global sweep (sort
every boundary, running sum, per-day max); the q132 replay runs
union-find over an independently recomputed simhash adjacency — the
decomposed/iterative builders must equal both exactly.
"""

from __future__ import annotations

import calendar
import hashlib
from collections import defaultdict

from bucket_to_bigquery_spark.queries import (
    concurrency,
    hamming,
    neardup_cc,
)
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(concurrency, neardup_cc)


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _micros(ts) -> int:
    # exact integer microseconds — float .timestamp() loses sub-µs
    # precision at ~1e15 magnitudes (the r13b review finding)
    return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond


def _trunc_div(a: int, b: int) -> int:
    # truncate toward zero like Spark `div` / DuckDB `//` — Python //
    # floors (tests/test_division_convention.py)
    q = abs(a) // b
    return q if a >= 0 else -q


def _brute_peaks(rows):
    """Naive global sweep over q63-contract sessions."""
    by_user: dict = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ts, r.event_id))
    intervals = []
    for evs in by_user.values():
        evs.sort()
        start = prev = _micros(evs[0][0])
        for ts, _ in evs[1:]:
            us = _micros(ts)
            if us - prev > concurrency._GAP_US:
                intervals.append((start, prev))
                start = us
            prev = us
        intervals.append((start, prev))
    deltas: dict = defaultdict(lambda: [0, 0])  # t -> [plus, minus]
    for s, e in intervals:
        deltas[s][0] += 1
        deltas[e][1] += 1
    cum = 0
    day_peak: dict = {}
    day_starts: dict = defaultdict(int)
    for t in sorted(deltas):
        plus, minus = deltas[t]
        peak_here = cum + plus  # starts apply before ends at equal t
        cum += plus - minus
        d = _trunc_div(t, concurrency._US_PER_DAY)
        day_peak[d] = max(day_peak.get(d, 0), peak_here)
        day_starts[d] += plus
    return day_peak, day_starts, len(intervals)


def test_registration_split_matches_gate_accounting():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q131_peak_concurrency",
        "q132_neardup_components",
        "q133_neardup_apply",
    ]
    for q in ENTRIES.values():
        assert q.oracle and q.description, q.name


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in sorted(ENTRIES):
            problems = compare(name, spark, duck, sf_dir, ENTRIES)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


def test_q131_matches_naive_global_sweep(spark, sf_dir):
    rows = tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_id").collect()
    day_peak, day_starts, n_intervals = _brute_peaks(rows)
    got = _run("q131_peak_concurrency", spark, sf_dir).collect()
    assert [r.day_idx for r in got] == sorted(day_peak)
    for r in got:
        assert r.peak_concurrent == day_peak[r.day_idx], r.day_idx
        assert r.n_session_starts == day_starts[r.day_idx], r.day_idx
    assert sum(r.n_session_starts for r in got) == n_intervals


def test_q131_peaks_are_genuinely_concurrent(spark, sf_dir):
    """The operator must be doing interval math, not counting: some
    day's peak must exceed 1 (overlap exists) and every peak is at
    least 1 on its observed day."""
    got = _run("q131_peak_concurrency", spark, sf_dir).collect()
    assert got
    assert all(r.peak_concurrent >= 1 for r in got)
    assert any(r.peak_concurrent > 1 for r in got)


def test_q131_plan_day_partitioned_scan(spark, sf_dir):
    """The scale contract: the sweep's running sum is day-partitioned
    (plus the tiny |days| carry window) — the per-instant aggregation
    sits BELOW the windows, and nothing is a cartesian."""
    plan = _plan(spark, sf_dir, "q131_peak_concurrency")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2  # within-day + cross-day carry
    below_first_window = plan.split("Window", 1)[1]
    assert "HashAggregate" in below_first_window


# ---------------------------------------------------------------------------
# q132 — near-duplicate components
# ---------------------------------------------------------------------------


def _toks(text: str) -> list[str]:
    return " ".join(text.lower().split()).split(" ") if text else [""]


def _simhash32(text: str) -> int:
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
          for t in dict.fromkeys(_toks(text))]
    sh = 0
    for j in range(32):
        if sum(((h >> j) & 1) * 2 - 1 for h in hs) > 0:
            sh |= 1 << j
    return sh


def _components_by_sh(clusters: dict) -> dict:
    """Classical union-find ground truth over ALL cluster pairs at
    hamming ≤ 3 (no banding shortcut): {sh: component root (min
    doc_id)}. Shared by the q132 and q133 replays — ONE definition of
    the reference algorithm."""
    nodes = sorted((min(ids), sh) for sh, ids in clusters.items())
    parent = {rep: rep for rep, _ in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, (ra, sa) in enumerate(nodes):
        for rb, sb in nodes[i + 1:]:
            if bin(sa ^ sb).count("1") <= hamming._MAX_HAMMING:
                a, b = find(ra), find(rb)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    return {sh: find(rep) for rep, sh in nodes}


def test_q132_matches_unionfind_bruteforce(spark, sf_dir):
    """Union-find over an independently recomputed simhash adjacency
    (all cluster pairs at hamming ≤ 3 — no banding shortcut): the
    iterative CC operator and the recursive oracle must both equal
    the classical algorithm."""
    docs = tables(spark, sf_dir)["documents"].select(
        "doc_id", "text").collect()
    clusters: dict = defaultdict(list)
    for r in docs:
        clusters[_simhash32(r.text)].append(r.doc_id)
    comp_of_sh = _components_by_sh(clusters)
    comp: dict = defaultdict(lambda: [0, 0])
    for sh, ids in clusters.items():
        c = comp_of_sh[sh]
        comp[c][0] += 1
        comp[c][1] += len(ids)
    expect = [(c, n, d) for c, (n, d) in sorted(comp.items())]
    got = _run("q132_neardup_components", spark, sf_dir).collect()
    assert [(r.component_rep, r.n_clusters, r.n_docs) for r in got] == expect


def test_q132_components_partition_the_corpus(spark, sf_dir):
    """Conservation + nontriviality: doc masses sum to the corpus,
    every representative is its own component's minimum, and at least
    one component merges multiple fingerprint clusters."""
    n_docs = tables(spark, sf_dir)["documents"].count()
    got = _run("q132_neardup_components", spark, sf_dir).collect()
    assert sum(r.n_docs for r in got) == n_docs
    assert any(r.n_clusters > 1 for r in got)
    reps = [r.component_rep for r in got]
    assert reps == sorted(set(reps))


def test_q132_plan_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q132_neardup_components")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # the cached cluster frame


# ---------------------------------------------------------------------------
# q133 — near-duplicate dedup apply
# ---------------------------------------------------------------------------


def test_q133_matches_unionfind_bruteforce(spark, sf_dir):
    """Same union-find ground truth as q132, carried to doc level:
    per source, exactly one survivor per component and the removal
    share over exact counts."""
    docs = tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", "source").collect()
    clusters: dict = defaultdict(list)
    src: dict = {}
    for r in docs:
        clusters[_simhash32(r.text)].append(r.doc_id)
        src[r.doc_id] = r.source
    comp_of_sh = _components_by_sh(clusters)
    agg: dict = defaultdict(lambda: [0, 0])  # source -> [docs, survivors]
    for sh, ids in clusters.items():
        c = comp_of_sh[sh]
        for d in ids:
            agg[src[d]][0] += 1
            agg[src[d]][1] += int(d == c)
    got = _run("q133_neardup_apply", spark, sf_dir).collect()
    assert [r.source for r in got] == sorted(agg)
    for r in got:
        n, surv = agg[r.source]
        assert (r.n_docs, r.n_survivors, r.n_removed) == (n, surv, n - surv)
        assert abs(r.removed_share_e6
                   - round((n - surv) / n * 1e6)) <= 1


def test_q133_survivors_count_components(spark, sf_dir):
    """Global invariant: total survivors == number of q132 components
    (one survivor per component, wherever its source lands)."""
    comps = _run("q132_neardup_components", spark, sf_dir).count()
    got = _run("q133_neardup_apply", spark, sf_dir).collect()
    assert sum(r.n_survivors for r in got) == comps
