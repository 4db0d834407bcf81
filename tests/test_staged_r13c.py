"""q101 k-anonymity audit (anonymity.py), q102 per-source quality
scorecard (scorecard.py), q103 weekly new-vs-returning mix (growth.py).

Same three checks as tests/test_staged_r13.py: registration, oracle
parity through the driver-mirror harness, and full Python brute-force
replays + plan pins per entry.
"""

from __future__ import annotations

import math
from collections import defaultdict

from bucket_to_bigquery_spark.queries import (
    anonymity,
    growth,
    scorecard,
)
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(anonymity, scorecard, growth)


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _round_half_away(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


# ---------------------------------------------------------------------------
# 1. Registration wiring
# ---------------------------------------------------------------------------


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q101_k_anonymity",
        "q102_source_scorecard",
        "q103_new_vs_returning",
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
# 3. q101 — k-anonymity audit
# ---------------------------------------------------------------------------


def test_q101_matches_bruteforce(spark, sf_dir):
    """Exact replay of QI group sizes and per-threshold risk; the
    thresholds are monotone (risk can only grow with k)."""
    from bucket_to_bigquery_spark.queries.anonymity import _KS, _QI

    rows = tables(spark, sf_dir)["customer"].select(*_QI).collect()
    groups: dict = defaultdict(int)
    for r in rows:
        groups[(r[0], r[1])] += 1
    got = {r.k: r for r in _run("q101_k_anonymity", spark, sf_dir).collect()}
    assert sorted(got) == sorted(_KS)
    prev_risk = -1
    for k in sorted(_KS):
        small = [n for n in groups.values() if n < k]
        r = got[k]
        assert r.n_groups == len(groups)
        assert r.n_small_groups == len(small)
        assert r.n_rows == len(rows)
        assert r.n_rows_at_risk == sum(small)
        assert r.at_risk_e6 == _round_half_away(
            sum(small) / len(rows) * 1e6)
        assert r.n_rows_at_risk >= prev_risk  # monotone in k
        prev_risk = r.n_rows_at_risk


def test_q101_single_scan_cached_groups(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q101_k_anonymity")
    assert plan.count("InMemoryTableScan") >= 1  # group frame cached
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# 3. q102 — source scorecard
# ---------------------------------------------------------------------------


def test_q102_matches_bruteforce(spark, sf_dir):
    """Exact replay: normalized-text distinct counts, dup excess, mean
    chars, top language under the (count DESC, lang ASC) tie-break."""
    docs = tables(spark, sf_dir)["documents"].select(
        "source", "text", "lang", "n_chars").collect()
    per_src: dict = defaultdict(lambda: {"n": 0, "norm": set(),
                                         "chars": 0, "langs": defaultdict(int)})
    for r in docs:
        s = per_src[r.source]
        s["n"] += 1
        s["norm"].add(" ".join(r.text.lower().split()) if r.text else r.text)
        s["chars"] += r.n_chars
        s["langs"][r.lang] += 1
    got = {r.source: r
           for r in _run("q102_source_scorecard", spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for src, s in per_src.items():
        r = got[src]
        dup = s["n"] - len(s["norm"])
        assert (r.n_docs, r.n_distinct_texts, r.dup_excess) == (
            s["n"], len(s["norm"]), dup)
        assert r.dup_frac_e6 == _round_half_away(dup / s["n"] * 1e6)
        assert r.mean_chars == _round_half_away(s["chars"] / s["n"])
        top = sorted(s["langs"].items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r.top_lang, r.top_lang_share_e6) == (
            top[0], _round_half_away(top[1] / s["n"] * 1e6))


def test_q102_branches_scan_pruned_columns(spark, sf_dir):
    # r17: the corpus-sized cache is gone (it forced the language branch
    # to read materialized norm strings it never uses — OPTIMIZATION_r17
    # q102 entry); each branch scans parquet with its own pruned columns
    # and the text column reaches exactly one scan (the norm branch)
    plan = _plan(spark, sf_dir, "q102_source_scorecard")
    assert "InMemoryTableScan" not in plan
    assert "CartesianProduct" not in plan
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(reads) >= 2
    assert sum("text" in ln for ln in reads) == 1, reads


# ---------------------------------------------------------------------------
# 3. q103 — new vs returning
# ---------------------------------------------------------------------------


def test_q103_matches_bruteforce(spark, sf_dir):
    """Replay: integer week indexes, first-week ownership, per-week
    volume/actives/new counts; totals reconcile (every customer is new
    exactly once) and the first active week is 100% new."""
    import datetime

    from bucket_to_bigquery_spark.queries.growth import _EPOCH

    epoch = datetime.date.fromisoformat(_EPOCH)
    rows = tables(spark, sf_dir)["orders"].select(
        "o_custkey", "o_orderdate").collect()
    vol: dict = defaultdict(int)
    pairs: set = set()
    for r in rows:
        wk = (r.o_orderdate.date() - epoch).days // 7
        vol[wk] += 1
        pairs.add((r.o_custkey, wk))
    actives: dict = defaultdict(int)
    first: dict = {}
    for c, wk in sorted(pairs, key=lambda t: t[1]):
        actives[wk] += 1
        first.setdefault(c, wk)
    news: dict = defaultdict(int)
    for c, wk in first.items():
        news[wk] += 1
    got = {r.week: r for r in _run("q103_new_vs_returning", spark, sf_dir).collect()}
    assert set(got) == set(vol)
    for wk, r in got.items():
        assert (r.n_orders, r.n_customers, r.n_new_customers) == (
            vol[wk], actives[wk], news.get(wk, 0))
        assert r.new_frac_e6 == _round_half_away(
            news.get(wk, 0) / actives[wk] * 1e6)
    assert sum(r.n_new_customers for r in got.values()) == len(first)
    assert got[min(got)].new_frac_e6 == 1_000_000  # week 1 is all-new


def test_q103_pair_frame_cached_no_row_sized_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q103_new_vs_returning")
    assert plan.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in plan
