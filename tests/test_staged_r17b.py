"""Second r13-staged batch for ROUND-17 registration: q141 PQ
asymmetric-distance top-k (pq_ann.py), q142 per-brand OLS line fit
(regression.py), q143 position-based multi-touch attribution
(multitouch.py).

Same checks as tests/test_staged_r17.py: staging containment, oracle
parity through the driver-mirror harness, full Python replays from
raw rows, and plan pins on the scale contracts.
"""

from __future__ import annotations

import calendar
from collections import defaultdict

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import multitouch, pq_ann, regression
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import compare, duck_connection, round_half_away

_MODULES = (pq_ann, regression, multitouch)

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for mod in _MODULES
    for name, (fn, oracle, desc, tags) in mod.STAGED.items()
}

_BATCH = ("q141_pq_adc_topk", "q142_brand_price_ols",
          "q143_position_attribution")


def _run(name, spark, sf_dir):
    return STAGED[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = STAGED[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


_round_half_away = round_half_away


def _d2_e12(a, b) -> int:
    return sum(
        _round_half_away((float(x) - float(y)) * (float(x) - float(y))
                         * 1e12)
        for x, y in zip(a, b)
    )


def _micros(ts) -> int:
    return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond


def test_staged_entries_are_not_registered():
    reg = all_queries()
    for name in _BATCH:
        assert name in STAGED
        assert name not in reg, (
            f"{name} is registered — the r17 staging plan "
            "(GATE_r13.md) no longer matches"
        )


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in _BATCH:
            problems = compare(name, spark, duck, sf_dir, STAGED)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


# ---------------------------------------------------------------------------
# q141 — PQ ADC top-k
# ---------------------------------------------------------------------------


def _pq_parts(rows):
    """(codebook, sub-length, assignments) replay shared with q139's
    test: codes under exact-e12 argmin, ties to lowest code."""
    cb = [v for _, v in rows[:16]]
    sl = len(rows[0][1]) // 8
    assign = {}
    for vid, vec in rows:
        for m in range(8):
            vsub = vec[m * sl:(m + 1) * sl]
            d2s = [_d2_e12(vsub, c[m * sl:(m + 1) * sl]) for c in cb]
            assign[(vid, m)] = min(range(len(cb)),
                                   key=lambda k: (d2s[k], k))
    return cb, sl, assign


def test_q141_matches_bruteforce(spark, sf_dir):
    rows = sorted(
        (r.vec_id, list(r.embedding)) for r in
        tables(spark, sf_dir)["embeddings"].select(
            "vec_id", "embedding").collect()
    )
    cb, sl, assign = _pq_parts(rows)
    queries = [(vid, vec) for vid, vec in rows if vid < 10]
    expect = {}
    for qid, qvec in queries:
        dtab = {
            (m, k): _d2_e12(qvec[m * sl:(m + 1) * sl],
                            c[m * sl:(m + 1) * sl])
            for m in range(8) for k, c in enumerate(cb)
        }
        scores = sorted(
            (sum(dtab[(m, assign[(vid, m)])] for m in range(8)), vid)
            for vid, _ in rows if vid != qid
        )
        expect[qid] = scores[:5]
    got = defaultdict(list)
    for r in _run("q141_pq_adc_topk", spark, sf_dir).collect():
        got[r.q_id].append((r.rank, r.n_id, r.adc_d2_e12))
    assert set(got) == set(expect)
    for qid, rs in got.items():
        assert rs == [(i + 1, vid, adc) for i, (adc, vid)
                      in enumerate(expect[qid])]


def test_pq_m_sub_parameter_slices_whole_vector(spark):
    """Regression pin for the _sub_slices refactor: a non-default
    m_sub must still cover EVERY dimension (the hardcoded-_M bug
    sliced only the first m_sub·(D div 8) dims, silently)."""
    from bucket_to_bigquery_spark.staged.pq_ann import pq_encode

    # 8-dim vectors, m_sub=2 -> two 4-dim subspaces; vectors 0/1 are
    # the codebook. vector 2 differs from vector 0 ONLY in the LAST
    # dim — under the bug the last dims are never sliced, so its
    # recon error would read 0
    rows = [
        (0, [0.0] * 8),
        (1, [1.0] * 8),
        (2, [0.0] * 7 + [0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in
           pq_encode(df, m_sub=2, k_codes=2).collect()}
    assert got[2].recon_d2_e12 == 250_000_000_000  # 0.5^2 * 1e12
    assert got[0].recon_d2_e12 == 0
    assert got[1].recon_d2_e12 == 0


def test_q141_plan_broadcast_tables_no_cartesian(spark, sf_dir):
    """The serving contract: codebook AND distance tables broadcast —
    the corpus-code frame never shuffles to meet them."""
    plan = _plan(spark, sf_dir, "q141_pq_adc_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan  # codebook selection


# ---------------------------------------------------------------------------
# q142 — per-brand OLS
# ---------------------------------------------------------------------------


def test_q142_matches_bruteforce(spark, sf_dir):
    t = tables(spark, sf_dir)
    brand_of = {r.p_partkey: r.p_brand for r in
                t["part"].select("p_partkey", "p_brand").collect()}
    pts = defaultdict(list)
    for r in t["lineitem"].select(
            "l_partkey", "l_quantity", "l_extendedprice").collect():
        pts[brand_of[r.l_partkey]].append(
            (_round_half_away(float(r.l_quantity) * 100),
             _round_half_away(float(r.l_extendedprice) * 100)))
    got = {r.brand: r for r in
           _run("q142_brand_price_ols", spark, sf_dir).collect()}
    assert set(got) == set(pts)
    for brand, xy in pts.items():
        n = len(xy)
        sx = float(sum(x for x, _ in xy))
        sy = float(sum(y for _, y in xy))
        sxx = float(sum(x * x for x, _ in xy))
        sxy = float(sum(x * y for x, y in xy))
        syy = float(sum(y * y for _, y in xy))
        nd = float(n)
        den = nd * sxx - sx * sx
        deny = nd * syy - sy * sy
        num = nd * sxy - sx * sy
        r = got[brand]
        assert r.n_lines == n
        if den <= 0.0:
            assert r.slope_e6 is None and r.intercept_e6 is None
        else:
            assert r.slope_e6 == _round_half_away(num / den * 1e6)
            assert r.intercept_e6 == _round_half_away(
                (sy - num / den * sx) / nd * 1e6)
        if den <= 0.0 or deny <= 0.0:
            assert r.r2_e6 is None
        else:
            assert r.r2_e6 == _round_half_away(
                num * num / (den * deny) * 1e6)
            assert 0 <= r.r2_e6 <= 1_000_000


def test_q142_plan_single_combine_no_cartesian(spark, sf_dir):
    """One fact-join pass, one map-side-combined brand aggregation;
    coefficient arithmetic touches only the moment frame."""
    plan = _plan(spark, sf_dir, "q142_brand_price_ols")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan  # nothing windows the fact table


# ---------------------------------------------------------------------------
# q143 — position-based attribution
# ---------------------------------------------------------------------------


def _attribution_replay(rows):
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(
            (_micros(r.ts), r.event_id, r.event_type))
    credit = defaultdict(int)
    touches = defaultdict(int)
    users = defaultdict(set)
    for u, evs in by_user.items():
        purchases = sorted((t, e) for t, e, ty in evs
                           if ty == "purchase")
        if not purchases:
            continue
        conv = purchases[0]
        tks = sorted((t, e, ty) for t, e, ty in evs
                     if ty in ("click", "view") and (t, e) < conv)
        m = len(tks)
        for rn, (_, _, ty) in enumerate(tks, 1):
            if m == 1:
                c = 1_000_000
            elif m == 2:
                c = 500_000
            elif rn in (1, m):
                c = 400_000
            else:
                c = 200_000 // (m - 2)
            credit[ty] += c
            touches[ty] += 1
            users[ty].add(u)
    return credit, touches, users


def test_q143_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_id", "event_type").collect()
    credit, touches, users = _attribution_replay(rows)
    got = {r.event_type: r for r in
           _run("q143_position_attribution", spark, sf_dir).collect()}
    assert set(got) == set(credit)
    for ty, r in got.items():
        assert r.n_touches == touches[ty]
        assert r.n_users == len(users[ty])
        assert r.credit_e6 == credit[ty]


def test_q143_credit_conservation(spark, sf_dir):
    """Each touched journey's credit sums to exactly 1e6 minus the
    documented truncation remainder 200000 mod (m−2) (zero for
    m ≤ 2), so the report's grand total equals that closed form."""
    rows = tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_id", "event_type").collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(
            (_micros(r.ts), r.event_id, r.event_type))
    expect_total = 0
    for u, evs in by_user.items():
        purchases = sorted((t, e) for t, e, ty in evs
                           if ty == "purchase")
        if not purchases:
            continue
        m = sum(1 for t, e, ty in evs
                if ty in ("click", "view") and (t, e) < purchases[0])
        if m == 0:
            continue
        rem = 200_000 % (m - 2) if m > 2 else 0
        expect_total += 1_000_000 - rem
    got = _run("q143_position_attribution", spark, sf_dir).collect()
    assert sum(r.credit_e6 for r in got) == expect_total


def test_q143_plan_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q143_position_attribution")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2  # first-purchase + touch ranking
