"""q104 Benford first-digit audit (benford.py), q105 per-source unigram
entropy (entropy.py).

Same checks as tests/test_staged_r13.py: registration and full Python
brute-force replays + plan pins per entry.
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from bucket_to_bigquery_spark.queries import benford, entropy
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import module_entries

ENTRIES = module_entries(benford, entropy)


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
        "q104_benford_audit",
        "q105_unigram_entropy",
    ]
    for q in ENTRIES.values():
        assert q.oracle and q.description, q.name


# ---------------------------------------------------------------------------
# q104 — Benford audit
# ---------------------------------------------------------------------------


def test_q104_matches_bruteforce(spark, sf_dir):
    """Replay: leading digit via the HALF_UP DECIMAL(30,6) rendering,
    exact counts, Benford expectations and chi-square contributions
    within a unit; shares sum to ~1; all 9 digits render."""
    rows = tables(spark, sf_dir)["orders"].select("o_totalprice").collect()
    digits: dict = defaultdict(int)
    for r in rows:
        x = r.o_totalprice
        if x is None or x == 0:
            continue
        rendered = str(
            Decimal(repr(abs(x))).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))
        lead = next(ch for ch in rendered if ch not in "0.")
        digits[int(lead)] += 1
    n = sum(digits.values())
    got = {r.digit: r for r in _run("q104_benford_audit", spark, sf_dir).collect()}
    assert sorted(got) == list(range(1, 10))
    for d in range(1, 10):
        r = got[d]
        assert r.observed == digits.get(d, 0), d
        assert r.observed_share_e6 == _round_half_away(
            digits.get(d, 0) / n * 1e6)
        p = math.log(1.0 + 1.0 / d) / math.log(10.0)
        assert abs(r.benford_share_e6 - _round_half_away(p * 1e6)) <= 1
        e = n * p
        chi = (digits.get(d, 0) - e) ** 2 / e
        assert abs(r.chi2_contrib_e3 - _round_half_away(chi * 1e3)) <= 1, d
        assert r.chi2_contrib_e3 >= 0
    assert abs(sum(r.observed_share_e6 for r in got.values()) - 1_000_000) <= 9


def test_q104_single_scan_nine_ary_combine(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q104_benford_audit")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q104_subresolution_amounts_excluded_identically(spark):
    """ADVICE r11 #4: a nonzero amount whose DECIMAL(30,6) rendering
    rounds to zero (|x| < 5e-7) has no leading digit — the exclusion
    predicate round-trips through the SAME cast as the digit
    extraction, so Spark and DuckDB keep exactly the same rows and
    every kept row yields a non-NULL digit on BOTH engines (the old
    `x <> 0` predicate kept them: _DIGIT went NULL on Spark but raised
    a cast error on DuckDB)."""
    import duckdb
    from pyspark.sql import functions as F

    from bucket_to_bigquery_spark.queries.benford import _DIGIT, _NONZERO

    vals = [3e-7, -4.9e-7, 4.999e-7, 5.001e-7, -6e-7, 0.0, 1.2, 0.091,
            1e25, -3e24]  # out-of-DECIMAL(30,6)-range magnitudes too
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    kept_spark = sorted(
        r.x for r in sdf.where(F.expr(_NONZERO.format(x="x"))).collect()
    )
    con = duckdb.connect()
    rel = "(SELECT unnest(" + repr(vals) + "::DOUBLE[]) AS x)"
    kept_duck = sorted(
        r[0] for r in con.execute(
            f"SELECT x FROM {rel} WHERE " + _NONZERO.format(x="x")
        ).fetchall()
    )
    assert kept_spark == kept_duck == sorted([5.001e-7, -6e-7, 1.2, 0.091])
    dig_spark = sorted(
        r[0] for r in sdf.where(F.expr(_NONZERO.format(x="x")))
        .select(F.expr(_DIGIT.format(x="x"))).collect()
    )
    dig_duck = sorted(
        r[0] for r in con.execute(
            "SELECT " + _DIGIT.format(x="x") + f" FROM {rel} "
            "WHERE " + _NONZERO.format(x="x")
        ).fetchall()
    )
    assert dig_spark == dig_duck and None not in dig_spark
    con.close()


# ---------------------------------------------------------------------------
# q105 — unigram entropy
# ---------------------------------------------------------------------------


def test_q105_matches_bruteforce(spark, sf_dir):
    """Replay per-term e12 contributions + integer sums; entropy bounds
    0 ≤ H ≤ ln(V); efficiency in [0, 1] and NULL only at V < 2."""
    docs = tables(spark, sf_dir)["documents"].select("source", "text").collect()
    tc: dict = defaultdict(lambda: defaultdict(int))
    for r in docs:
        t = (" ".join(r.text.lower().split()).split(" ")
             if r.text else [""])
        for tok in t:
            tc[r.source][tok] += 1
    got = {r.source: r for r in _run("q105_unigram_entropy", spark, sf_dir).collect()}
    assert set(got) == set(tc)
    for s, counts in tc.items():
        n = sum(counts.values())
        v = len(counts)
        acc = 0
        for c in counts.values():
            p = c / n
            acc += _round_half_away(-p * math.log(p) * 1e12)
        r = got[s]
        assert (r.n_tokens, r.n_terms) == (n, v)
        assert abs(r.entropy_e9 - _round_half_away(acc / 1e3)) <= 1, s
        assert 0 <= r.entropy_e9 <= math.log(max(v, 2)) * 1e9 + v
        if v < 2:
            assert r.efficiency_e6 is None
        else:
            eff = (acc / 1e12) / math.log(v)
            assert abs(r.efficiency_e6 - _round_half_away(eff * 1e6)) <= 1
            assert 0 <= r.efficiency_e6 <= 1_000_000 + 1


def test_q105_vocab_frame_cached(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q105_unigram_entropy")
    assert plan.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in plan
