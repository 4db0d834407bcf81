"""First r13-staged batch for ROUND-17 registration: q135–q140
(recon.py, ks.py, robust.py, cooccur.py, pq_ann.py, fuzzy.py) — the
referential-integrity audit, exact two-sample KS drift, median/MAD
robust outliers, item-item co-occurrence cosine top-k, the PQ encode
audit, and the token-blocked edit-distance similarity join.

Same checks as tests/test_staged_r14.py: staging containment, oracle
parity through the driver-mirror harness, full Python replays from
raw rows, and plan pins on the scale contracts.
"""

from __future__ import annotations

import math
from collections import defaultdict
from itertools import combinations

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import (
    cooccur,
    fuzzy,
    ks,
    pq_ann,
    recon,
    robust,
)
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import compare, duck_connection, round_half_away

_MODULES = (recon, ks, robust, cooccur, pq_ann, fuzzy)

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for mod in _MODULES
    for name, (fn, oracle, desc, tags) in mod.STAGED.items()
}


def _run(name, spark, sf_dir):
    return STAGED[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = STAGED[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


_round_half_away = round_half_away


def _cents(price: float) -> int:
    # both engines' round() is half-away-from-zero; prices are positive
    return _round_half_away(price * 100)


def test_staged_entries_are_not_registered():
    reg = all_queries()
    # the six q135–q140 entries plus pq_ann's q141 (tested in _r17b)
    assert STAGED and len(STAGED) == 7
    for name in STAGED:
        assert name not in reg, (
            f"{name} is registered — the r17 staging plan "
            "(GATE_r13.md) no longer matches"
        )


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        # q141 (pq_ann's second entry) runs its parity in
        # tests/test_staged_r17b.py — don't pay the ADC scan twice
        for name in sorted(set(STAGED) - {"q141_pq_adc_topk"}):
            problems = compare(name, spark, duck, sf_dir, STAGED)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


# ---------------------------------------------------------------------------
# q135 — referential audit
# ---------------------------------------------------------------------------


def test_q135_matches_bruteforce(spark, sf_dir):
    t = tables(spark, sf_dir)
    li = [(r.l_orderkey, r.l_partkey, r.l_linenumber, r.l_quantity)
          for r in t["lineitem"].select(
              "l_orderkey", "l_partkey", "l_linenumber",
              "l_quantity").collect()]
    okeys = {r.o_orderkey for r in
             t["orders"].select("o_orderkey").collect()}
    ocust = [r.o_custkey for r in
             t["orders"].select("o_custkey").collect()]
    ckeys = {r.c_custkey for r in
             t["customer"].select("c_custkey").collect()}
    pkeys = {r.p_partkey for r in t["part"].select("p_partkey").collect()}
    expect = {
        "orphan_lineitems": (sum(o not in okeys for o, *_ in li), len(li)),
        "childless_orders": (
            len(okeys - {o for o, *_ in li}), len(ocust)),
        "orders_missing_customer": (
            sum(c not in ckeys for c in ocust), len(ocust)),
        "lineitems_missing_part": (
            sum(p not in pkeys for _, p, *_ in li), len(li)),
        "duplicate_line_pk": (
            len(li) - len({(o, ln) for o, _, ln, _ in li}), len(li)),
        "nonpositive_quantity": (
            sum(q <= 0 for *_, q in li), len(li)),
    }
    got = _run("q135_referential_audit", spark, sf_dir).collect()
    assert [r.chk for r in got] == sorted(expect)
    for r in got:
        assert (r.n_bad, r.n_checked) == expect[r.chk], r.chk


def test_q135_plan_anti_joins_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q135_referential_audit")
    assert "CartesianProduct" not in plan
    # the four orphan checks are genuine anti-joins, not collect-loops
    assert plan.count("LeftAnti") >= 4


# ---------------------------------------------------------------------------
# q136 — exact two-sample KS
# ---------------------------------------------------------------------------


def _ks_replay(rows, pivot):
    sides = defaultdict(lambda: [0, 0])
    for price, dt in rows:
        sides[_cents(price)][0 if dt < pivot else 1] += 1
    na = sum(a for a, _ in sides.values())
    nb = sum(b for _, b in sides.values())
    best, at, ca, cb = -1, None, 0, 0
    for cents in sorted(sides):
        ca += sides[cents][0]
        cb += sides[cents][1]
        diff = abs(ca * nb - cb * na)
        if diff > best:
            best, at = diff, cents
    return best, at, na, nb


def test_q136_matches_bruteforce(spark, sf_dir):
    import datetime

    rows = [(r.o_totalprice, r.o_orderdate) for r in
            tables(spark, sf_dir)["orders"].select(
                "o_totalprice", "o_orderdate").collect()]
    best, at, na, nb = _ks_replay(rows, datetime.datetime(1998, 1, 1))
    got = _run("q136_ks_drift", spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.ks_num, r.at_cents, r.na, r.nb) == (best, at, na, nb)
    assert r.ks_stat == best / (float(na) * float(nb))


def test_q136_plan_compress_below_segmented_windows(spark, sf_dir):
    """The scale contract: the cumulate is band-segmented (within-band
    + tiny carry), the count-compress sits BELOW the windows, and the
    only nested-loop is the broadcast of the 1-row totals frame."""
    plan = _plan(spark, sf_dir, "q136_ks_drift")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2  # within-band + cross-band carry
    below_first_window = plan.split("Window", 1)[1]
    assert "HashAggregate" in below_first_window


# ---------------------------------------------------------------------------
# q137 — median/MAD robust outliers
# ---------------------------------------------------------------------------


def _disc_median(xs: list[int]) -> int:
    xs = sorted(xs)
    return xs[(len(xs) + 1) // 2 - 1]


def test_q137_matches_bruteforce(spark, sf_dir):
    t = tables(spark, sf_dir)
    seg_of = {r.c_custkey: r.c_mktsegment for r in
              t["customer"].select("c_custkey", "c_mktsegment").collect()}
    by_seg = defaultdict(list)
    for r in t["orders"].select("o_custkey", "o_totalprice").collect():
        by_seg[seg_of[r.o_custkey]].append(_cents(r.o_totalprice))
    got = _run("q137_mad_outliers", spark, sf_dir).collect()
    assert [r.segment for r in got] == sorted(by_seg)
    for r in got:
        xs = by_seg[r.segment]
        med = _disc_median(xs)
        devs = [abs(x - med) for x in xs]
        mad = _disc_median(devs)
        assert r.n_orders == len(xs)
        assert r.med_cents == med
        assert r.mad_cents == mad
        assert r.n_outliers == sum(d > 3 * mad for d in devs)
        assert r.max_dev_cents == max(devs)


def test_q137_plan_two_compressed_cumulates(spark, sf_dir):
    """Both medians cumulate over compressed frames (aggregates below
    the windows); the deviation pass derives from the cached compress,
    never a fact re-scan; medians/MAD attach by broadcast."""
    plan = _plan(spark, sf_dir, "q137_mad_outliers")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2
    below_first_window = plan.split("Window", 1)[1]
    assert "HashAggregate" in below_first_window
    assert "InMemoryTableScan" in plan  # the cached compressed frame
    assert "BroadcastHashJoin" in plan  # 5-row medians/MAD attach


# ---------------------------------------------------------------------------
# q138 — item-item cosine top-k
# ---------------------------------------------------------------------------


def test_q138_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_partkey").collect()
    baskets = defaultdict(set)
    for r in rows:
        baskets[r.l_orderkey].add(r.l_partkey)
    f: dict = defaultdict(int)
    c: dict = defaultdict(int)
    for items in baskets.values():
        for p in items:
            f[p] += 1
        for i, j in combinations(sorted(items), 2):
            c[(i, j)] += 1
    neigh = defaultdict(list)
    for (i, j), cij in c.items():
        cos = cij / (math.sqrt(f[i]) * math.sqrt(f[j]))
        neigh[i].append((-cos, j, cij))
        neigh[j].append((-cos, i, cij))
    got = _run("q138_item_cooccur_topk", spark, sf_dir).collect()
    by_part = defaultdict(list)
    for r in got:
        by_part[r.partkey].append(r)
    assert set(by_part) == set(neigh)
    for i, rs in by_part.items():
        expect = sorted(neigh[i])[:5]
        assert [r.rank for r in rs] == list(range(1, len(expect) + 1))
        for r, (negcos, j, cij) in zip(rs, expect):
            assert (r.neighbor, r.n_cobaskets) == (j, cij)
            assert (r.f_i, r.f_j) == (f[i], f[j])
            assert r.cosine == -negcos


def test_q138_plan_basket_join_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q138_item_cooccur_topk")
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # per-item top-k
    assert "InMemoryTableScan" in plan  # cached distinct (basket, item)


# ---------------------------------------------------------------------------
# q139 — PQ encode audit
# ---------------------------------------------------------------------------


def _d2_e12(a, b) -> int:
    return sum(
        _round_half_away((float(x) - float(y)) * (float(x) - float(y))
                         * 1e12)
        for x, y in zip(a, b)
    )


def test_q139_matches_bruteforce(spark, sf_dir):
    rows = sorted(
        (r.vec_id, list(r.embedding)) for r in
        tables(spark, sf_dir)["embeddings"].select(
            "vec_id", "embedding").collect()
    )
    cb = [v for _, v in rows[:16]]
    sl = len(rows[0][1]) // 8
    got = {r.vec_id: r for r in
           _run("q139_pq_encode", spark, sf_dir).collect()}
    assert set(got) == {vid for vid, _ in rows}
    for vid, vec in rows:
        code, recon = 0, 0
        for m in range(8):
            vsub = vec[m * sl:(m + 1) * sl]
            d2s = [_d2_e12(vsub, c[m * sl:(m + 1) * sl]) for c in cb]
            best = min(range(len(cb)), key=lambda k: (d2s[k], k))
            code += best << (4 * m)
            recon += d2s[best]
        assert (got[vid].pq_code, got[vid].recon_d2_e12) == (code, recon), vid


def test_q139_code_word_is_nibble_packed(spark, sf_dir):
    got = _run("q139_pq_encode", spark, sf_dir).collect()
    for r in got:
        assert 0 <= r.pq_code < (1 << 32)  # 8 nibbles
        assert r.recon_d2_e12 >= 0


def test_q139_plan_broadcast_codebook(spark, sf_dir):
    """The scale contract: the codebook side is broadcast (vectors
    never shuffle to meet it) and codebook selection is TakeOrdered,
    not a global sort."""
    plan = _plan(spark, sf_dir, "q139_pq_encode")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# q140 — blocked edit-distance similarity join
# ---------------------------------------------------------------------------


def _lev(a_s: str, b_s: str) -> int:
    # the byte-granular contract (fuzzy.py docstring): DP over UTF-8
    # bytes — identical to chars on this ASCII corpus
    a, b = a_s.encode(), b_s.encode()
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_q140_matches_bruteforce(spark, sf_dir):
    parts = sorted(
        (r.p_partkey, r.p_name) for r in
        tables(spark, sf_dir)["part"].select(
            "p_partkey", "p_name").collect()
    )
    blocks = defaultdict(list)
    for k, nm in parts:  # already sorted by key -> cap keeps lowest keys
        for tok in nm.split(" "):
            if len(blocks[tok]) < 48:
                blocks[tok].append((k, nm))
    cand = set()
    for members in blocks.values():
        for (ka, na), (kb, nb) in combinations(members, 2):
            cand.add((ka, kb, na, nb) if ka < kb else (kb, ka, nb, na))
    expect = sorted(
        (ka, kb, na, nb, _lev(na, nb))
        for ka, kb, na, nb in cand if _lev(na, nb) <= 3
    )
    got = [(r.a_partkey, r.b_partkey, r.a_name, r.b_name, r.lev)
           for r in _run("q140_fuzzy_name_pairs", spark, sf_dir).collect()]
    assert got == expect
    assert got, "edge threshold produced zero pairs — threshold too tight"


def test_q140_plan_blocked_join_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q140_fuzzy_name_pairs")
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the per-token DF cap


# ---------------------------------------------------------------------------
# violation warehouse — the generated corpora are CLEAN, so q135's
# n_bad>0 branches and q136's one-sided-empty guard never fire there;
# this tiny warehouse plants one violation per audit check and dates
# every order after the KS pivot
# ---------------------------------------------------------------------------


def _violation_dir(tmp_path) -> str:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "bad_sf"
    d.mkdir()
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tus = pa.timestamp("us")

    def w(name, names, cols, types):
        pq.write_table(
            pa.table({n: pa.array(c, type=t)
                      for n, c, t in zip(names, cols, types)}),
            d / name)

    w("region.parquet", ["r_regionkey", "r_name"], [[0], ["X"]], [i64, s])
    w("nation.parquet", ["n_nationkey", "n_name", "n_regionkey"],
      [[0], ["A"], [0]], [i64, s, i64])
    w("customer.parquet",
      ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
      [[1], ["Customer#1"], [0], [10.0], ["BUILDING"]],
      [i64, s, i32, f64, s])
    w("supplier.parquet", ["s_suppkey", "s_name", "s_nationkey",
                           "s_acctbal"],
      [[1], ["Supplier#1"], [0], [5.0]], [i64, s, i32, f64])
    w("part.parquet",
      ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
       "p_retailprice"],
      [[1], ["lone widget"], ["Brand#1"], ["PROMO"], [1], [1.0]],
      [i64, s, s, s, i32, f64])
    # order 1 has lines; orders 2/4 are childless; order 3 dangles on
    # customer 9; order 4's custkey is NULL (the NULL-FK contract: a
    # NULL key IS a violation) — ALL dated after the 1998 KS pivot
    # (early side empty)
    w("orders.parquet",
      ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
       "o_orderdate", "o_orderpriority"],
      [[1, 2, 3, 4], [1, 1, 9, None], ["O", "O", "O", "O"],
       [10.0, 20.0, 30.0, 40.0],
       [dt.datetime(1999, 1, 1), dt.datetime(1999, 2, 1),
        dt.datetime(1999, 3, 1), dt.datetime(1999, 4, 1)],
       ["1-URGENT", "2-HIGH", "2-HIGH", "5-LOW"]],
      [i64, i64, s, f64, tus, s])
    # line on order 99 is an orphan; duplicated (1, 1) PK; one line on
    # missing part 7; one zero quantity; one line with NULL
    # orderkey/partkey/linenumber (NULL-FK + NULL-PK-tuple semantics —
    # where NOT IN / bare-column countDistinct would silently diverge)
    w("lineitem.parquet",
      ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
       "l_quantity", "l_extendedprice", "l_discount", "l_tax",
       "l_returnflag", "l_linestatus", "l_shipdate"],
      [[1, 1, 1, 99, None], [1, 1, 7, 1, None], [1, 1, 1, 1, 1],
       [1, 1, 2, 1, None],
       [1.0, 0.0, 2.0, 3.0, 4.0], [1.0, 1.0, 2.0, 3.0, 4.0],
       [0.0] * 5, [0.0] * 5,
       ["N"] * 5, ["O"] * 5,
       [dt.datetime(1999, 1, 5)] * 5],
      [i64, i64, i64, i32, f64, f64, f64, f64, s, s, tus])
    w("events.parquet",
      ["event_id", "ts", "user_id", "event_type", "value", "props"],
      [[1], [dt.datetime(1999, 1, 1)], [1], ["view"], [1.0], ["{}"]],
      [i64, tus, i64, s, f64, s])
    w("documents.parquet",
      ["doc_id", "text", "lang", "source", "n_chars"],
      [[1], ["x"], ["en"], ["web"], [1]], [i64, s, s, s, i64])
    w("embeddings.parquet", ["vec_id", "embedding", "label"],
      [[1], [[0.0] * 64], [0]], [i64, pa.list_(pa.float32()), i32])
    return str(d)


def test_q135_counts_planted_violations(spark, tmp_path):
    bad = _violation_dir(tmp_path)
    duck = duck_connection(bad)
    try:
        assert not compare("q135_referential_audit", spark, duck, bad,
                           STAGED)
    finally:
        duck.close()
    got = {r.chk: (r.n_bad, r.n_checked) for r in
           _run("q135_referential_audit", spark, bad).collect()}
    assert got == {
        "orphan_lineitems": (2, 5),  # order-99 line + the NULL-key line
        "childless_orders": (3, 4),
        "orders_missing_customer": (2, 4),  # dangling 9 + NULL custkey
        "lineitems_missing_part": (2, 5),  # part-7 line + NULL partkey
        "duplicate_line_pk": (1, 5),  # (NULL,NULL) is its own tuple
        "nonpositive_quantity": (1, 5),
    }


def test_q136_one_sided_split_yields_empty(spark, tmp_path):
    bad = _violation_dir(tmp_path)
    duck = duck_connection(bad)
    try:
        assert not compare("q136_ks_drift", spark, duck, bad, STAGED)
    finally:
        duck.close()
    assert _run("q136_ks_drift", spark, bad).count() == 0
