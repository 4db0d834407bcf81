"""The four TPC-H decision-support shapes q109 local-supplier volume /
q110 returned-item report / q111 promo share / q112 market share
(tpch_ext.py), the q113 column profile (profiling.py), and the q114
temperature-scaled mixture weights (temperature.py).

Checked here:

1. **Registration** — the modules register exactly these entries, each
   with its oracle and description.
2. **Oracle parity** — each builder matches its DuckDB oracle through
   the same compare harness the driver mirrors.
3. **Per-entry semantics** beyond the hash: full Python replays
   (decimal-exact revenue folds, the profile formatter, the α-mixture
   math) and plan-shape pins (dim broadcasts, TakeOrdered top-k, no
   cartesian products).
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from bucket_to_bigquery_spark.queries import (
    profiling,
    temperature,
    tpch_ext,
)
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(tpch_ext, profiling, temperature)

_Q6 = Decimal("0.000001")


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _round_half_away(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def _dec6(x: float) -> Decimal:
    """The dsum term contract: the exact double, rounded once to the
    DECIMAL(30,6) grid (both engines' double→decimal cast)."""
    return Decimal(x).quantize(_Q6, rounding=ROUND_HALF_UP)


def _rev(r) -> Decimal:
    return _dec6(r.l_extendedprice * (1.0 - r.l_discount))


# ---------------------------------------------------------------------------
# 1. Registration
# ---------------------------------------------------------------------------


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q109_tpch_q5_shape",
        "q110_tpch_q10_shape",
        "q111_promo_share",
        "q112_market_share",
        "q113_column_profile",
        "q114_alpha_sampling",
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
# q109 — TPC-H Q5 shape
# ---------------------------------------------------------------------------


def _collect_tpch(spark, sf_dir):
    t = tables(spark, sf_dir)
    return {
        "lineitem": t["lineitem"].collect(),
        "orders": t["orders"].collect(),
        "customer": t["customer"].collect(),
        "supplier": t["supplier"].collect(),
        "nation": t["nation"].collect(),
        "region": t["region"].collect(),
        "part": t["part"].collect(),
    }


def test_q109_matches_bruteforce(spark, sf_dir):
    """Replay the five-way join + decimal revenue fold per nation."""
    d = _collect_tpch(spark, sf_dir)
    asia = {r.r_regionkey for r in d["region"] if r.r_name == "ASIA"}
    nat = {r.n_nationkey: r.n_name for r in d["nation"]
           if r.n_regionkey in asia}
    orders = {
        r.o_orderkey: r.o_custkey for r in d["orders"]
        if r.o_orderdate.year == 1996
    }
    cust_nat = {r.c_custkey: r.c_nationkey for r in d["customer"]}
    supp_nat = {r.s_suppkey: r.s_nationkey for r in d["supplier"]}
    rev: dict = defaultdict(Decimal)
    for li in d["lineitem"]:
        ck = orders.get(li.l_orderkey)
        if ck is None:
            continue
        sn = supp_nat.get(li.l_suppkey)
        if sn is None or cust_nat.get(ck) != sn or sn not in nat:
            continue
        rev[nat[sn]] += _rev(li)
    expect = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    got = _run("q109_tpch_q5_shape", spark, sf_dir).collect()
    assert [(r.n_name, r.revenue) for r in got] == [
        (n, float(v)) for n, v in expect]


def test_q109_plan_broadcasts_dims_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q109_tpch_q5_shape")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the nation⋈region dim leg


# ---------------------------------------------------------------------------
# q110 — TPC-H Q10 shape
# ---------------------------------------------------------------------------


def test_q110_matches_bruteforce(spark, sf_dir):
    d = _collect_tpch(spark, sf_dir)
    orders = {
        r.o_orderkey: r.o_custkey for r in d["orders"]
        if r.o_orderdate.year == 1997 and r.o_orderdate.month <= 6
    }
    cust = {r.c_custkey: (r.c_name, r.c_nationkey) for r in d["customer"]}
    nat = {r.n_nationkey: r.n_name for r in d["nation"]}
    rev: dict = defaultdict(Decimal)
    for li in d["lineitem"]:
        if li.l_returnflag != "R":
            continue
        ck = orders.get(li.l_orderkey)
        if ck is None:
            continue
        rev[ck] += _rev(li)
    ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = _run("q110_tpch_q10_shape", spark, sf_dir).collect()
    assert [(r.c_custkey, r.c_name, r.n_name, r.revenue) for r in got] == [
        (ck, cust[ck][0], nat[cust[ck][1]], float(v)) for ck, v in ranked]


def test_q110_plan_takeordered_top20(spark, sf_dir):
    """Top-20 must be a distributed TakeOrdered, never a global sort."""
    plan = _plan(spark, sf_dir, "q110_tpch_q10_shape")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# q111 — TPC-H Q14 shape
# ---------------------------------------------------------------------------


def test_q111_matches_bruteforce(spark, sf_dir):
    d = _collect_tpch(spark, sf_dir)
    promo_part = {r.p_partkey for r in d["part"] if r.p_type == "PROMO"}
    month = {
        r.o_orderkey: (r.o_orderdate.year - 1995) * 12
        + r.o_orderdate.month - 1
        for r in d["orders"] if r.o_orderdate.year == 1997
    }
    promo: dict = defaultdict(Decimal)
    total: dict = defaultdict(Decimal)
    for li in d["lineitem"]:
        m = month.get(li.l_orderkey)
        if m is None:
            continue
        v = _rev(li)
        total[m] += v
        if li.l_partkey in promo_part:
            promo[m] += v
    got = _run("q111_promo_share", spark, sf_dir).collect()
    assert [r.month_idx for r in got] == sorted(total)
    for r in got:
        assert r.promo_revenue == float(promo[r.month_idx])
        assert r.total_revenue == float(total[r.month_idx])
        share = _round_half_away(
            float(promo[r.month_idx]) / float(total[r.month_idx]) * 1e6)
        assert abs(r.promo_share_e6 - share) <= 1


# ---------------------------------------------------------------------------
# q112 — TPC-H Q8 shape
# ---------------------------------------------------------------------------


def test_q112_matches_bruteforce(spark, sf_dir):
    d = _collect_tpch(spark, sf_dir)
    asia = {r.r_regionkey for r in d["region"] if r.r_name == "ASIA"}
    asia_nat = {r.n_nationkey for r in d["nation"] if r.n_regionkey in asia}
    asia_cust = {r.c_custkey for r in d["customer"]
                 if r.c_nationkey in asia_nat}
    nat_name = {r.n_nationkey: r.n_name for r in d["nation"]}
    supp_nat = {r.s_suppkey: r.s_nationkey for r in d["supplier"]}
    order_info = {r.o_orderkey: (r.o_custkey, r.o_orderdate.year)
                  for r in d["orders"]}
    nat_rev: dict = defaultdict(Decimal)
    tot_rev: dict = defaultdict(Decimal)
    for li in d["lineitem"]:
        info = order_info.get(li.l_orderkey)
        if info is None or info[0] not in asia_cust:
            continue
        y = info[1]
        v = _rev(li)
        tot_rev[y] += v
        if nat_name.get(supp_nat.get(li.l_suppkey)) == "NATION_2":
            nat_rev[y] += v
    got = _run("q112_market_share", spark, sf_dir).collect()
    assert [r.o_year for r in got] == sorted(tot_rev)
    for r in got:
        assert r.nation_revenue == float(nat_rev[r.o_year])
        assert r.region_revenue == float(tot_rev[r.o_year])
        share = _round_half_away(
            float(nat_rev[r.o_year]) / float(tot_rev[r.o_year]) * 1e6)
        assert abs(r.share_e6 - share) <= 1


def test_q112_plan_no_cartesian_double_nation(spark, sf_dir):
    """nation joins twice (customer-region filter + supplier label) —
    both legs must stay keyed joins, never a cross product."""
    plan = _plan(spark, sf_dir, "q112_market_share")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


# ---------------------------------------------------------------------------
# q113 — column profile
# ---------------------------------------------------------------------------


def test_q113_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["orders"].collect()
    got = _run("q113_column_profile", spark, sf_dir).collect()
    assert [r.col_name for r in got] == [c for c, _ in profiling._COLS]
    for r, (col, typ) in zip(got, profiling._COLS):
        vals = [getattr(x, col) for x in rows]
        non_null = [v for v in vals if v is not None]
        assert r.n_nulls == len(vals) - len(non_null)
        assert r.n_distinct == len(set(non_null))
        lo, hi = min(non_null), max(non_null)
        if typ == "bigint":
            expect = (str(lo), str(hi))
        elif typ == "double":
            expect = (str(_dec6(lo)), str(_dec6(hi)))
        elif typ == "timestamp":
            expect = (lo.strftime("%Y-%m-%d %H:%M:%S"),
                      hi.strftime("%Y-%m-%d %H:%M:%S"))
        else:
            expect = (lo, hi)
        assert (r.min_value, r.max_value) == expect, col


def test_q113_plan_single_pass(spark, sf_dir):
    """One scan of orders: the profile must not re-scan per column."""
    plan = _plan(spark, sf_dir, "q113_column_profile")
    # "Scan parquet" also matches every "FileScan parquet" occurrence —
    # count the superstring once; ≤2 allows the base scan plus its
    # reuse under the expand-based multi-distinct
    assert plan.count("Scan parquet") <= 2
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# q114 — temperature-scaled mixture weights
# ---------------------------------------------------------------------------


def test_q114_matches_bruteforce(spark, sf_dir):
    docs = tables(spark, sf_dir)["documents"].select(
        "source", "n_chars").collect()
    chars: dict = defaultdict(int)
    n: dict = defaultdict(int)
    for r in docs:
        chars[r.source] += r.n_chars
        n[r.source] += 1
    t = sum(chars.values())
    pw = {s: _round_half_away((c / t) ** temperature._ALPHA * 1e12)
          for s, c in chars.items()}
    z = sum(pw.values())
    got = _run("q114_alpha_sampling", spark, sf_dir).collect()
    assert [r.source for r in got] == sorted(chars)
    for r in got:
        s = r.source
        assert (r.n_docs, r.chars) == (n[s], chars[s])
        assert abs(r.p_raw_e6 - _round_half_away(chars[s] / t * 1e6)) <= 1
        w = pw[s] / z
        assert abs(r.weight_e6 - _round_half_away(w * 1e6)) <= 1
        assert abs(r.upsample_e6
                   - _round_half_away(w / (chars[s] / t) * 1e6)) <= 1


def test_q114_small_sources_upsample(spark, sf_dir):
    """The α < 1 flattening invariant: every below-average source gets
    upsample ≥ 1e6 and the weights still sum to ~1."""
    got = _run("q114_alpha_sampling", spark, sf_dir).collect()
    mean_chars = sum(r.chars for r in got) / len(got)
    for r in got:
        if r.chars < mean_chars:
            assert r.upsample_e6 >= 1_000_000
    assert abs(sum(r.weight_e6 for r in got) - 1_000_000) <= len(got)
