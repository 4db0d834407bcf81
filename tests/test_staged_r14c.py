"""The subquery-machinery TPC-H shapes q119 Q4-lateness / q120
Q7-nation-pair / q121 Q13-distribution / q122 Q17-correlated-average /
q123 Q18-having / q124 Q19-disjunction / q125 Q15-equality-with-max /
q126 Q22-anti-join (tpch_ext2.py).

Same three checks as tests/test_staged_r14.py: registration, oracle
parity through the driver-mirror harness, and full Python brute-force
replays + plan pins per entry (semi/anti joins must stay equi-joins,
the Q18 top-k must be TakeOrdered, no cartesian products anywhere).
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from bucket_to_bigquery_spark.queries import tpch_ext2
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(tpch_ext2)

_Q6 = Decimal("0.000001")


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _round_half_away(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def _dec6(x: float) -> Decimal:
    return Decimal(x).quantize(_Q6, rounding=ROUND_HALF_UP)


def _rev(r) -> Decimal:
    return _dec6(r.l_extendedprice * (1.0 - r.l_discount))


def _collect(spark, sf_dir):
    t = tables(spark, sf_dir)
    return {n: t[n].collect()
            for n in ("lineitem", "orders", "customer", "supplier",
                      "nation", "part")}


# ---------------------------------------------------------------------------
# 1. Registration
# ---------------------------------------------------------------------------


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q119_tpch_q4_shape",
        "q120_tpch_q7_shape",
        "q121_tpch_q13_shape",
        "q122_tpch_q17_shape",
        "q123_tpch_q18_shape",
        "q124_tpch_q19_shape",
        "q125_tpch_q15_shape",
        "q126_tpch_q22_shape",
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
# q119 — Q4 shape (EXISTS semi-join)
# ---------------------------------------------------------------------------


def test_q119_matches_bruteforce(spark, sf_dir):
    d = _collect(spark, sf_dir)
    late_orders = {r.l_orderkey for r in d["lineitem"]}  # candidates
    ship_by_order: dict = defaultdict(list)
    for r in d["lineitem"]:
        ship_by_order[r.l_orderkey].append(r.l_shipdate)
    counts: dict = defaultdict(int)
    for o in d["orders"]:
        if not ("1996-01-01" <= o.o_orderdate.strftime("%Y-%m-%d")
                < "1996-04-01"):
            continue
        if any(s > o.o_orderdate for s in ship_by_order.get(o.o_orderkey, [])):
            counts[o.o_orderpriority] += 1
    got = _run("q119_tpch_q4_shape", spark, sf_dir).collect()
    assert [(r.o_orderpriority, r.n_late_orders) for r in got] == sorted(
        counts.items())
    assert late_orders  # data sanity


def test_q119_plan_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q119_tpch_q4_shape")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# q120 — Q7 shape (nation pair)
# ---------------------------------------------------------------------------


def test_q120_matches_bruteforce(spark, sf_dir):
    d = _collect(spark, sf_dir)
    nat = {r.n_nationkey: r.n_name for r in d["nation"]}
    supp_nat = {r.s_suppkey: nat[r.s_nationkey] for r in d["supplier"]}
    cust_nat = {r.c_custkey: nat[r.c_nationkey] for r in d["customer"]}
    order_cust = {r.o_orderkey: r.o_custkey for r in d["orders"]}
    pair = {tpch_ext2._NAT_A, tpch_ext2._NAT_B}
    vol: dict = defaultdict(Decimal)
    for li in d["lineitem"]:
        sn = supp_nat[li.l_suppkey]
        cn = cust_nat[order_cust[li.l_orderkey]]
        if sn in pair and cn in pair and sn != cn:
            vol[(sn, cn, li.l_shipdate.year)] += _rev(li)
    got = _run("q120_tpch_q7_shape", spark, sf_dir).collect()
    assert [(r.supp_nation, r.cust_nation, r.l_year, r.volume)
            for r in got] == [
        (k[0], k[1], k[2], float(v)) for k, v in sorted(vol.items())]


# ---------------------------------------------------------------------------
# q121 — Q13 shape (distribution)
# ---------------------------------------------------------------------------


def test_q121_matches_bruteforce(spark, sf_dir):
    d = _collect(spark, sf_dir)
    per_cust: dict = {r.c_custkey: 0 for r in d["customer"]}
    for o in d["orders"]:
        per_cust[o.o_custkey] += 1
    hist: dict = defaultdict(int)
    for c in per_cust.values():
        hist[c] += 1
    got = _run("q121_tpch_q13_shape", spark, sf_dir).collect()
    assert [(r.n_orders, r.n_customers) for r in got] == sorted(hist.items())
    # histogram must cover every customer exactly once
    assert sum(r.n_customers for r in got) == len(per_cust)


# ---------------------------------------------------------------------------
# q122 — Q17 shape (correlated scalar average)
# ---------------------------------------------------------------------------


def test_q122_matches_bruteforce(spark, sf_dir):
    d = _collect(spark, sf_dir)
    brand = {r.p_partkey for r in d["part"]
             if r.p_brand == tpch_ext2._BRAND}
    qsum: dict = defaultdict(Decimal)
    qn: dict = defaultdict(int)
    for li in d["lineitem"]:
        if li.l_partkey in brand:
            qsum[li.l_partkey] += _dec6(li.l_quantity)
            qn[li.l_partkey] += 1
    out: dict = {}
    for li in d["lineitem"]:
        pk = li.l_partkey
        if pk not in qsum:
            continue
        thr = 0.2 * (float(qsum[pk]) / qn[pk])
        if li.l_quantity < thr:
            e = out.setdefault(pk, [thr, 0, Decimal(0)])
            e[1] += 1
            e[2] += _rev(li)
    got = _run("q122_tpch_q17_shape", spark, sf_dir).collect()
    assert [r.l_partkey for r in got] == sorted(out)
    for r in got:
        thr, n, rev = out[r.l_partkey]
        assert abs(r.threshold_qty_e6 - _round_half_away(thr * 1e6)) <= 1
        assert r.n_small_lines == n
        assert r.small_revenue == float(rev)


def test_q122_plan_stats_join_not_cartesian(spark, sf_dir):
    """The correlated average must be a stats join (plain equi-joins —
    no forced broadcast of SF-proportional frames, the review
    finding), never a re-scan per row or a cross product."""
    plan = _plan(spark, sf_dir, "q122_tpch_q17_shape")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "InMemoryTableScan" in plan  # the cached brand-line frame


# ---------------------------------------------------------------------------
# q123 — Q18 shape (HAVING + join-back + TakeOrdered)
# ---------------------------------------------------------------------------


def test_q123_matches_bruteforce(spark, sf_dir):
    d = _collect(spark, sf_dir)
    qty: dict = defaultdict(Decimal)
    for li in d["lineitem"]:
        qty[li.l_orderkey] += _dec6(li.l_quantity)
    cust = {r.c_custkey: r.c_name for r in d["customer"]}
    rows = []
    for o in d["orders"]:
        q = qty.get(o.o_orderkey, Decimal(0))
        if q > tpch_ext2._MIN_QTY:
            rows.append((-o.o_totalprice, o.o_orderkey, o.o_custkey,
                         cust[o.o_custkey],
                         o.o_orderdate.strftime("%Y-%m-%d %H:%M:%S"),
                         float(q)))
    rows.sort()
    expect = rows[: tpch_ext2._TOP_ORDERS]
    got = _run("q123_tpch_q18_shape", spark, sf_dir).collect()
    assert [(r.c_custkey, r.c_name, r.o_orderkey, r.o_orderdate,
             r.o_totalprice, r.total_qty) for r in got] == [
        (ck, cn, ok, od, -neg_tp, tq)
        for neg_tp, ok, ck, cn, od, tq in expect]


def test_q123_plan_takeordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q123_tpch_q18_shape")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# q124 — Q19 shape (disjunctive predicate)
# ---------------------------------------------------------------------------


def test_q124_matches_bruteforce(spark, sf_dir):
    d = _collect(spark, sf_dir)
    part = {r.p_partkey: (r.p_brand, r.p_size) for r in d["part"]}
    agg: dict = defaultdict(lambda: [0, Decimal(0)])
    for li in d["lineitem"]:
        b, s = part[li.l_partkey]
        for tb, slo, shi, qlo, qhi in tpch_ext2._TRIPLES:
            if b == tb and slo <= s <= shi and qlo <= li.l_quantity <= qhi:
                agg[b][0] += 1
                agg[b][1] += _rev(li)
                break
    got = _run("q124_tpch_q19_shape", spark, sf_dir).collect()
    assert [(r.p_brand, r.n_lines, r.revenue) for r in got] == [
        (b, n, float(v)) for b, (n, v) in sorted(agg.items())]


# ---------------------------------------------------------------------------
# q125 — Q15 shape (equality with max)
# ---------------------------------------------------------------------------


def test_q125_matches_bruteforce(spark, sf_dir):
    d = _collect(spark, sf_dir)
    rev: dict = defaultdict(Decimal)
    for li in d["lineitem"]:
        rev[(li.l_shipdate.year, li.l_suppkey)] += _rev(li)
    by_year: dict = defaultdict(dict)
    for (y, sk), v in rev.items():
        by_year[y][sk] = float(v)
    names = {r.s_suppkey: r.s_name
             for r in tables(spark, sf_dir)["supplier"].collect()}
    expect = []
    for y in sorted(by_year):
        mx = max(by_year[y].values())
        for sk in sorted(by_year[y]):
            if by_year[y][sk] == mx:
                expect.append((y, sk, names[sk], mx))
    got = _run("q125_tpch_q15_shape", spark, sf_dir).collect()
    assert [(r.l_year, r.l_suppkey, r.s_name, r.revenue)
            for r in got] == expect


def test_q125_window_on_aggregate_only(spark, sf_dir):
    """The max window must run on the reduced (year, supplier) frame —
    exactly one pre-window shuffle of the fact table."""
    plan = _plan(spark, sf_dir, "q125_tpch_q15_shape")
    assert "Window" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# q126 — Q22 shape (scalar threshold + anti-join)
# ---------------------------------------------------------------------------


def test_q126_matches_bruteforce(spark, sf_dir):
    d = _collect(spark, sf_dir)
    pos = [c.c_acctbal for c in d["customer"] if c.c_acctbal > 0]
    mean = float(sum(_dec6(b) for b in pos)) / len(pos)
    recent = {o.o_custkey for o in d["orders"]
              if o.o_orderdate.strftime("%Y-%m-%d")
              >= tpch_ext2._DORMANT_CUTOFF}
    agg: dict = defaultdict(lambda: [0, Decimal(0)])
    for c in d["customer"]:
        if c.c_acctbal > mean and c.c_custkey not in recent:
            agg[c.c_nationkey][0] += 1
            agg[c.c_nationkey][1] += _dec6(c.c_acctbal)
    got = _run("q126_tpch_q22_shape", spark, sf_dir).collect()
    assert got, "dormancy cutoff selects nobody — constants drifted"
    assert [(r.c_nationkey, r.n_customers, r.total_bal) for r in got] == [
        (nk, n, float(v)) for nk, (n, v) in sorted(agg.items())]


def test_q126_plan_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q126_tpch_q22_shape")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
