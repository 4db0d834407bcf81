"""q106 unit-price consistency audit (dispersion.py), q107 numeric
correlation matrix (correlation.py).

Same three checks as tests/test_staged_r13.py: registration, oracle
parity through the driver-mirror harness, and full Python brute-force
replays + plan pins per entry.
"""

from __future__ import annotations

import math
from collections import defaultdict
from itertools import combinations

from bucket_to_bigquery_spark.queries import (
    correlation,
    dispersion,
)
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(dispersion, correlation)


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _round_half_away(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q106_unit_price_dispersion",
        "q107_correlation_matrix",
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


# ---------------------------------------------------------------------------
# q106 — unit-price dispersion
# ---------------------------------------------------------------------------


def test_q106_matches_bruteforce(spark, sf_dir):
    """Replay e6 unit prices, exact moments, CV; verify the top-20 cut
    against the full ranking under the (cv DESC, part) total order."""
    from bucket_to_bigquery_spark.queries.dispersion import _MIN_OBS, _TOP

    rows = tables(spark, sf_dir)["lineitem"].select(
        "l_partkey", "l_extendedprice", "l_quantity").collect()
    ups: dict = defaultdict(list)
    for r in rows:
        if r.l_quantity is None or r.l_quantity == 0:
            continue
        ups[r.l_partkey].append(
            _round_half_away(r.l_extendedprice / r.l_quantity * 1e6))
    scored = []
    for pk, u in ups.items():
        if len(u) < _MIN_OBS:
            continue
        n, s = len(u), sum(u)
        s2 = sum(x * x for x in u)
        if s == 0:
            continue  # NULL cv sorts last; absent from any real top-20
        sd = math.sqrt(max((s2 - s * s / n) / n, 0.0))
        cv = _round_half_away(sd / (s / n) * 1e6)
        scored.append((-cv, pk, n, _round_half_away(s / n)))
    scored.sort()
    expect = scored[:_TOP]
    got = _run("q106_unit_price_dispersion", spark, sf_dir).collect()
    assert len(got) == min(_TOP, len(expect))
    for row, (neg_cv, pk, n, mean) in zip(got, expect):
        assert (row.l_partkey, row.n_obs) == (pk, n)
        assert abs(row.cv_e6 - (-neg_cv)) <= 1
        assert abs(row.mean_unit_price_e6 - mean) <= 1
        assert row.cv_e6 >= 0


def test_q106_takeordered_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q106_unit_price_dispersion")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# q107 — correlation matrix
# ---------------------------------------------------------------------------


def test_q107_matches_bruteforce(spark, sf_dir):
    """Replay the exact moments (Python bigints) and Pearson r; the
    derived pair (quantity, extendedprice) correlates strongly
    positive; every |r| ≤ 1."""
    from bucket_to_bigquery_spark.queries.correlation import _COLS

    rows = tables(spark, sf_dir)["lineitem"].select(*_COLS).collect()
    cols = {c: [_round_half_away(r[i] * 1e6) for r in rows]
            for i, c in enumerate(_COLS)}
    n = len(rows)
    got = {(r.col_a, r.col_b): r
           for r in _run("q107_correlation_matrix", spark, sf_dir).collect()}
    assert set(got) == set(combinations(_COLS, 2))
    for (a, b), r in got.items():
        assert r.n_rows == n
        va, vb = cols[a], cols[b]
        sa, sb = sum(va), sum(vb)
        saa = sum(x * x for x in va)
        sbb = sum(x * x for x in vb)
        sab = sum(x * y for x, y in zip(va, vb))
        da = n * float(saa) - float(sa) * float(sa)
        db = n * float(sbb) - float(sb) * float(sb)
        if da <= 0 or db <= 0:
            assert r.corr_e6 is None
            continue
        rho = (n * float(sab) - float(sa) * float(sb)) / (
            math.sqrt(da) * math.sqrt(db))
        assert abs(r.corr_e6 - _round_half_away(rho * 1e6)) <= 1, (a, b)
        assert abs(r.corr_e6) <= 1_000_000 + 1
    # the measures all vary on this corpus: every pair is defined
    assert all(r.corr_e6 is not None for r in got.values())


def test_q107_single_global_aggregation(spark, sf_dir):
    """One map-side-combined global agg; the six output rows come from
    the 1-row moment frame — no second scan, no join of data frames."""
    plan = _plan(spark, sf_dir, "q107_correlation_matrix")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # a single scan feeds the union of pair projections via plan reuse
    assert plan.count("Scan parquet") + plan.count("FileScan") >= 1
