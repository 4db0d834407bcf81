"""q115 simhash near-dup pairs (hamming.py), q116 duplication-inflation
report (inflation.py), q117 vocabulary coverage curve (coverage.py),
q118 trailing-7-day active users (actives.py).

Same three checks as tests/test_staged_r14.py: registration, oracle
parity through the driver-mirror harness, and full Python brute-force
replays + plan pins per entry. The simhash replays here recompute the
q46b fingerprint from raw md5 — an independent pin of the shared
contract, not a call into operators/dedup.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from bucket_to_bigquery_spark.queries import (
    actives,
    all_queries,
    coverage,
    hamming,
    inflation,
)
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(hamming, inflation, coverage, actives)


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _round_half_away(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def _toks(text: str) -> list[str]:
    return " ".join(text.lower().split()).split(" ") if text else [""]


def _tokhash(t: str) -> int:
    return int(hashlib.md5(t.encode()).hexdigest()[:8], 16)


def _simhash32(text: str) -> int:
    """Independent replay of the q46b fingerprint: ±1 votes per bit of
    the md5 token hash over DISTINCT tokens, bit set iff votes > 0."""
    hs = [_tokhash(t) for t in dict.fromkeys(_toks(text))]
    sh = 0
    for j in range(32):
        if sum(((h >> j) & 1) * 2 - 1 for h in hs) > 0:
            sh |= 1 << j
    return sh


# ---------------------------------------------------------------------------
# 1. Registration
# ---------------------------------------------------------------------------


def test_registration_split_matches_gate_accounting():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q115_simhash_hamming_pairs",
        "q116_dup_inflation",
        "q117_ngram_coverage",
        "q118_rolling_active_users",
    ]
    for q in ENTRIES.values():
        assert q.oracle and q.description, q.name


# ---------------------------------------------------------------------------
# 2. Oracle parity through the driver-mirror harness
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
# q115 — simhash hamming pairs
# ---------------------------------------------------------------------------


def test_q115_fold_sql_matches_q46b_oracle_verbatim():
    """The r15 rotation hoisted the 32-bit fold into llm_queries
    (GATE_r13 deferred #5): hamming now IMPORTS _SIMHASH_SQL — the pin
    direction flips from verbatim-copy-sync to shared-object identity —
    and the q46b oracle must interpolate that same definition, so a
    fold edit that desyncs the fingerprint contract still fails here,
    not in a driver hash three rounds later."""
    from bucket_to_bigquery_spark.queries import llm_queries

    assert hamming._SIMHASH_SQL is llm_queries._SIMHASH_SQL
    q46b = all_queries()["q46b_simhash_fingerprint"]
    assert llm_queries._SIMHASH_SQL in q46b.oracle


def test_q115_matches_allpairs_bruteforce(spark, sf_dir):
    """The banding recall guarantee, verified against ALL cluster pairs:
    every distinct-fingerprint pair at hamming ≤ 3 must survive the
    4×8-bit band blocking (pigeonhole) and nothing else may appear —
    with exact representatives, sizes, and doc-pair mass."""
    docs = tables(spark, sf_dir)["documents"].select(
        "doc_id", "text").collect()
    clusters: dict = defaultdict(list)
    for r in docs:
        clusters[_simhash32(r.text)].append(r.doc_id)
    nodes = [(min(ids), sh, len(ids)) for sh, ids in clusters.items()]
    nodes.sort()
    expect = []
    for i, (ra, sa, za) in enumerate(nodes):
        for rb, sb, zb in nodes[i + 1:]:
            h = bin(sa ^ sb).count("1")
            if h <= hamming._MAX_HAMMING:
                expect.append((ra, rb, h, za, zb, za * zb))
    got = _run("q115_simhash_hamming_pairs", spark, sf_dir).collect()
    assert [tuple(r) for r in got] == sorted(expect)


def test_q115_edges_are_cross_cluster(spark, sf_dir):
    """Cluster granularity (the r13 probe lesson): hamming-0 mass lives
    in q116's histogram, so every edge here is strictly 1–3, and the
    corpus produces real multi-doc adjacency (n_doc_pairs > 1
    somewhere — the collapse is doing work)."""
    got = _run("q115_simhash_hamming_pairs", spark, sf_dir).collect()
    assert got
    assert all(1 <= r.hamming <= hamming._MAX_HAMMING for r in got)
    assert all(r.n_doc_pairs == r.n_docs_a * r.n_docs_b for r in got)
    assert any(r.n_doc_pairs > 1 for r in got)


def test_q115_plan_banded_equijoin(spark, sf_dir):
    """Candidates must come from the (band_idx, band_val) equi-join —
    never a cartesian all-pairs."""
    plan = _plan(spark, sf_dir, "q115_simhash_hamming_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# q116 — duplication-inflation report
# ---------------------------------------------------------------------------


def test_q116_matches_bruteforce(spark, sf_dir):
    docs = tables(spark, sf_dir)["documents"].select("text").collect()
    sizes = Counter(Counter(_simhash32(r.text) for r in docs).values())
    n_docs_total = sum(sz * n for sz, n in sizes.items())
    n_clusters = sum(sizes.values())
    removable = n_docs_total - n_clusters
    got = _run("q116_dup_inflation", spark, sf_dir).collect()
    assert [r.cluster_size for r in got] == sorted(sizes)
    for r in got:
        n = sizes[r.cluster_size]
        assert r.n_clusters == n
        assert r.n_docs == r.cluster_size * n
        assert abs(r.corpus_share_e6 - _round_half_away(
            r.n_docs / n_docs_total * 1e6)) <= 1
        assert abs(r.removable_share_e6 - _round_half_away(
            (r.cluster_size - 1) * n / removable * 1e6)) <= 1
        assert abs(r.inflation_e6 - _round_half_away(
            n_docs_total / n_clusters * 1e6)) <= 1


def test_q116_is_nontrivial_histogram(spark, sf_dir):
    """The staging rewrite's point (exact-text clustering was 500/500
    unique → a 1-row report): the simhash key must yield multiple
    cluster sizes and real removable mass."""
    got = _run("q116_dup_inflation", spark, sf_dir).collect()
    assert len(got) >= 2
    assert any(r.cluster_size > 1 for r in got)
    assert all(r.removable_share_e6 is not None for r in got)
    assert sum(r.removable_share_e6 for r in got[1:]) >= 1e6 - len(got)


# ---------------------------------------------------------------------------
# q117 — vocabulary coverage curve
# ---------------------------------------------------------------------------


def test_q117_matches_bruteforce(spark, sf_dir):
    docs = tables(spark, sf_dir)["documents"].select("text").collect()
    tc = Counter()
    for r in docs:
        tc.update(_toks(r.text))
    total = sum(tc.values())
    ranked = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))
    got = _run("q117_ngram_coverage", spark, sf_dir).collect()
    assert [r.k for r in got] == sorted(coverage._K_GRID)
    for r in got:
        top = ranked[: r.k]
        covered = sum(c for _, c in top)
        assert r.n_terms == len(top)
        assert r.covered_occ == covered
        assert r.total_occ == total
        assert abs(r.coverage_e6
                   - _round_half_away(covered / total * 1e6)) <= 1


def test_q117_curve_is_monotone(spark, sf_dir):
    got = _run("q117_ngram_coverage", spark, sf_dir).collect()
    covs = [r.coverage_e6 for r in got]
    assert covs == sorted(covs)
    assert all(0 < c <= 1_000_000 for c in covs)


def test_q117_plan_takeordered_no_global_sort(spark, sf_dir):
    """The top-1000 selection must be a distributed TakeOrdered; the
    grid join is a broadcast over the K-bounded frame."""
    plan = _plan(spark, sf_dir, "q117_ngram_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# q118 — trailing-7-day active users
# ---------------------------------------------------------------------------


def _day(ts) -> int:
    # exact integer micros (float .timestamp() loses sub-µs precision —
    # the r13b review finding); testdata days are all post-1970, so
    # floor == the engines' truncate here
    import calendar

    us = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
    return us // actives._US_PER_DAY


def test_q118_matches_bruteforce(spark, sf_dir):
    ev = tables(spark, sf_dir)["events"].select("user_id", "ts").collect()
    pairs = {(r.user_id, _day(r.ts)) for r in ev}
    days = {d for _, d in pairs}
    active: dict = defaultdict(set)
    for u, d in pairs:
        for td in range(d, d + actives._WINDOW):
            if td in days:
                active[td].add(u)
    got = _run("q118_rolling_active_users", spark, sf_dir).collect()
    assert [r.day_idx for r in got] == sorted(days)
    for r in got:
        assert r.n_active_7d == len(active[r.day_idx])


def test_q118_window_exceeds_daily_actives(spark, sf_dir):
    """A 7-day trailing distinct must dominate each day's own actives —
    and genuinely exceed it somewhere (the explode is doing work)."""
    ev = tables(spark, sf_dir)["events"].select("user_id", "ts").collect()
    daily: dict = defaultdict(set)
    for r in ev:
        daily[_day(r.ts)].add(r.user_id)
    got = {r.day_idx: r.n_active_7d
           for r in _run("q118_rolling_active_users", spark, sf_dir).collect()}
    assert all(got[d] >= len(u) for d, u in daily.items())
    assert any(got[d] > len(u) for d, u in daily.items())


def test_q118_plan_no_range_join(spark, sf_dir):
    """The scale contract: a bounded explode + equi-semi-join — never a
    per-day range self-join (BNLJ) and never a cartesian."""
    plan = _plan(spark, sf_dir, "q118_rolling_active_users")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan
