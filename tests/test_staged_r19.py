"""Staged batch for ROUND-19 registration (built in r14, GATE_r14.md
"Staged r19 surface"): q154 TPC-H Q6 shape (tpch_ext3.py), q155
month-over-month top-20 rank churn (rankchurn.py), q156 Markov
next-event prediction eval (markov_eval.py), q157 packing-efficiency
audit of the q52 packer (packstats.py), q158 join-skew salt advisor
(saltadvisor.py), q159 PQ ADC recall@5 audit (pq_recall.py), and
q160 decile lift table (lift.py).

Same checks as tests/test_staged_r17.py: staging containment, oracle
parity through the driver-mirror harness, full Python replays,
plan/identity pins, and the verbatim-embedding pins for the two
composed oracles (q157 embeds q52's oracle, q159 embeds q141's).
"""

from __future__ import annotations

from collections import defaultdict
from decimal import Decimal

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import (
    lift,
    markov_eval,
    packstats,
    pq_recall,
    rankchurn,
    saltadvisor,
    tpch_ext3,
)
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import compare, duck_connection, round_half_away

_STAGED_MODULES = (tpch_ext3, rankchurn, markov_eval, packstats,
                   saltadvisor, pq_recall, lift)

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for mod in _STAGED_MODULES
    for name, (fn, oracle, desc, tags) in mod.STAGED.items()
}


def _run(name, spark, sf_dir):
    return STAGED[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = STAGED[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# 1. Staging containment
# ---------------------------------------------------------------------------


def test_staged_entries_are_not_registered():
    reg = all_queries()
    assert sorted(STAGED) == [
        "q154_tpch_q6_shape", "q155_topk_rank_churn",
        "q156_markov_prediction_eval", "q157_packing_efficiency",
        "q158_salt_advisor", "q159_pq_recall_audit", "q160_decile_lift"]
    for name in STAGED:
        assert name not in reg, (
            f"{name} is registered — the r19 staging plan "
            "(GATE_r14.md) no longer matches"
        )


# ---------------------------------------------------------------------------
# 2. Oracle parity through the driver-mirror harness
# ---------------------------------------------------------------------------


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in sorted(STAGED):
            problems = compare(name, spark, duck, sf_dir, STAGED)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


# ---------------------------------------------------------------------------
# 3. Composed-oracle embedding pins (the receval/srccontain discipline):
#    one definition of the audited computation, byte-identical reuse
# ---------------------------------------------------------------------------


def test_q157_oracle_embeds_q52s_verbatim():
    from bucket_to_bigquery_spark.queries.pipeline_queries import _Q52_SQL

    oracle = STAGED["q157_packing_efficiency"].oracle
    assert oracle.startswith(f"WITH packed AS (SELECT * FROM ({_Q52_SQL})) ")


def test_q157_builder_calls_q52s_packer():
    import inspect

    from bucket_to_bigquery_spark.staged import packstats as m

    src = inspect.getsource(m.q157)
    assert "pack_chunks(" in src  # the ONE packing definition


def test_q159_oracle_embeds_q141s_verbatim():
    from bucket_to_bigquery_spark.staged.pq_ann import _Q141_ORACLE

    oracle = STAGED["q159_pq_recall_audit"].oracle
    assert oracle.startswith(f"WITH adc AS (SELECT * FROM ({_Q141_ORACLE})), ")


def test_q159_builder_calls_q141s_scan():
    import inspect

    from bucket_to_bigquery_spark.staged import pq_recall as m

    src = inspect.getsource(m.q159)
    assert "pq_adc_topk(" in src  # the ONE ADC scan definition


# ---------------------------------------------------------------------------
# 4. Brute-force replays
# ---------------------------------------------------------------------------


def test_q154_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["lineitem"].select(
        "l_shipdate", "l_quantity", "l_extendedprice", "l_discount"
    ).collect()
    exp_n: dict = defaultdict(int)
    exp_rev: dict = defaultdict(Decimal)
    for r in rows:
        if 5 <= round_half_away(r.l_discount * 100) <= 7 and r.l_quantity < 24:
            y = r.l_shipdate.year
            exp_n[y] += 1
            exp_rev[y] += Decimal(
                f"{r.l_extendedprice * r.l_discount:.6f}")
    got = _run("q154_tpch_q6_shape", spark, sf_dir).collect()
    assert [r.ship_year for r in got] == sorted(exp_n)
    for r in got:
        assert r.n_lines == exp_n[r.ship_year]
        assert abs(Decimal(f"{r.revenue_delta:.6f}")
                   - exp_rev[r.ship_year]) <= Decimal("0.000001")
    assert got, "the generated corpus must hit the Q6 band"


def _topk_by_month(rows, k=20):
    rev: dict = defaultdict(Decimal)
    for r in rows:
        m = r.l_shipdate.year * 12 + r.l_shipdate.month - 1
        rev[(m, r.l_partkey)] += Decimal(
            f"{r.l_extendedprice * (1.0 - r.l_discount):.6f}")
    per_month: dict = defaultdict(list)
    for (m, pk), v in rev.items():
        per_month[m].append((-v, pk))
    return {m: {pk: i + 1 for i, (_, pk) in enumerate(sorted(v)[:k])}
            for m, v in per_month.items()}


def test_q155_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["lineitem"].select(
        "l_shipdate", "l_partkey", "l_extendedprice", "l_discount"
    ).collect()
    top = _topk_by_month(rows)
    months = sorted(top)
    got = {r.month_idx: r for r in
           _run("q155_topk_rank_churn", spark, sf_dir).collect()}
    assert sorted(got) == [m for m in range(months[0], months[-1])]
    for m in got:
        a, b = top.get(m, {}), top.get(m + 1, {})
        inter = set(a) & set(b)
        union = set(a) | set(b)
        r = got[m]
        assert r.retained == len(inter)
        assert r.dropped == len(set(a) - set(b))
        assert r.entered == len(set(b) - set(a))
        assert r.jaccard_e6 == len(inter) * 1_000_000 // len(union)
        assert r.rank_displacement == sum(
            abs(a[pk] - b[pk]) for pk in inter)


def test_q156_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_id", "event_type").collect()
    by_user: dict = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    import datetime as dt

    pivot = dt.datetime.fromisoformat("2024-01-22")
    fit: dict = defaultdict(int)
    test: dict = defaultdict(int)
    for seq in by_user.values():
        seq.sort()
        for (t0, _, s), (t1, _, nxt) in zip(seq, seq[1:]):
            if t1 < pivot:
                fit[(s, nxt)] += 1
            else:
                test[(s, nxt)] += 1
    pred = {}
    for (s, nxt), c in fit.items():
        cur = pred.get(s)
        if cur is None or (-c, nxt) < cur:
            pred[s] = (-c, nxt)
    pred = {s: v[1] for s, v in pred.items()}
    exp_test: dict = defaultdict(int)
    exp_hits: dict = defaultdict(int)
    for (s, nxt), n in test.items():
        exp_test[s] += n
        if pred.get(s) == nxt:
            exp_hits[s] += n
    got = _run("q156_markov_prediction_eval", spark, sf_dir).collect()
    assert [r.state for r in got] == sorted(exp_test)
    for r in got:
        assert r.n_test == exp_test[r.state]
        assert r.n_hits == exp_hits[r.state]
        assert r.covered == int(r.state in pred)
        assert r.hit_rate_e6 == exp_hits[r.state] * 1_000_000 // r.n_test
    assert got and any(r.n_hits > 0 for r in got)


def test_q157_matches_chunk_aggregation(spark, sf_dir):
    """Replay the audit over the PACKER'S OWN chunk frame (one
    definition — the packer itself is pinned by q52's registered
    oracle parity and tests/test_substring_packing.py)."""
    from bucket_to_bigquery_spark.queries.pipeline_queries import pack_chunks

    d = tables(spark, sf_dir)["documents"]
    chunks = pack_chunks(d.select("doc_id", "text")).collect()
    agg: dict = defaultdict(lambda: [0, 0, 0, 0, 0, 1 << 62, 0])
    for c in chunks:
        a = agg[c.shard_id]
        a[0] += 1
        a[1] += c.n_docs
        a[2] += c.n_tokens
        a[3] = max(a[3], c.n_docs)
        a[4] = max(a[4], c.n_tokens)
        a[5] = min(a[5], c.n_tokens)
        a[6] += c.n_docs == 1
    got = _run("q157_packing_efficiency", spark, sf_dir).collect()
    assert [r.shard_id for r in got] == sorted(agg)
    for r in got:
        a = agg[r.shard_id]
        assert (r.n_chunks, r.n_docs, r.n_tokens) == (a[0], a[1], a[2])
        assert (r.max_docs_chunk, r.max_tokens_chunk,
                r.min_tokens_chunk) == (a[3], a[4], a[5])
        assert r.singleton_chunks == a[6]
        assert r.avg_docs_e6 == a[1] * 1_000_000 // a[0]


def test_q158_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["lineitem"].select("l_partkey").collect()
    cnt: dict = defaultdict(int)
    for r in rows:
        cnt[r.l_partkey] += 1
    total = sum(cnt.values())
    n_keys = len(cnt)
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = _run("q158_salt_advisor", spark, sf_dir).collect()
    assert [(r.key, r.cnt) for r in got] == top
    for r in got:
        assert r.share_e6 == r.cnt * 1_000_000 // total
        assert r.skew_e6 == r.cnt * n_keys * 1_000_000 // total
        assert r.salt_factor == (r.cnt + 31) // 32
        assert r.is_hot == (r.skew_e6 > 2_000_000)


def _e12_d2(a, b):
    return sum(
        round_half_away((float(x) - float(y)) * (float(x) - float(y)) * 1e12)
        for x, y in zip(a, b)
    )


def test_q159_exact_leg_and_composition(spark, sf_dir):
    """Replay the EXACT top-5 leg in Python; take the ADC leg from the
    audited scan itself (pq_ann.pq_adc_topk — its own oracle parity
    is pinned by tests/test_staged_r17*.py and, once registered, the
    driver gate); check the hit counts are exactly the set
    intersections."""
    from pyspark.sql import functions as F

    from bucket_to_bigquery_spark.staged.pq_ann import pq_adc_topk

    emb = tables(spark, sf_dir)["embeddings"]
    vecs = {r.vec_id: r.embedding
            for r in emb.select("vec_id", "embedding").collect()}
    exact: dict = {}
    for q in sorted(vecs):
        if q >= 10:
            break
        cand = sorted(
            (_e12_d2(vecs[q], v), n) for n, v in vecs.items() if n != q)
        exact[q] = [n for _, n in cand[:5]]
    adc_rows = pq_adc_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5).collect()
    adc: dict = defaultdict(list)
    for r in adc_rows:
        adc[r.q_id].append(r.n_id)
    got = _run("q159_pq_recall_audit", spark, sf_dir).collect()
    assert [r.q_id for r in got] == sorted(exact)
    for r in got:
        hits = len(set(exact[r.q_id]) & set(adc[r.q_id]))
        assert r.n_hits == hits
        assert r.recall_e6 == hits * 1_000_000 // 5
        assert r.exact_id_sum == sum(exact[r.q_id])
        assert r.adc_id_sum == sum(adc[r.q_id])
    assert any(r.n_hits > 0 for r in got)  # ADC must retrieve something


def test_q160_matches_bruteforce(spark, sf_dir):
    import datetime as dt

    rows = tables(spark, sf_dir)["orders"].select(
        "o_custkey", "o_orderdate", "o_totalprice").collect()
    pivot = dt.datetime.fromisoformat("1999-01-01")
    tr: dict = defaultdict(int)
    te: dict = defaultdict(int)
    has_train = set()
    for r in rows:
        cents = round_half_away(r.o_totalprice * 100)
        if r.o_orderdate < pivot:
            tr[r.o_custkey] += cents
            has_train.add(r.o_custkey)
        else:
            te[r.o_custkey] += cents
    ranked = sorted(has_train, key=lambda c: (-tr[c], c))
    n = len(ranked)
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for i, c in enumerate(ranked):
        d = (i * 10) // n
        a = agg[d]
        a[0] += 1
        a[1] += tr[c]
        a[2] += te[c]
    t_total = sum(a[2] for a in agg.values())
    n_total = sum(a[0] for a in agg.values())
    got = _run("q160_decile_lift", spark, sf_dir).collect()
    assert [r.decile for r in got] == sorted(agg)
    for r in got:
        a = agg[r.decile]
        assert (r.n_cust, r.train_cents, r.test_cents) == tuple(a)
        assert r.lift_e6 == round_half_away(
            (a[2] / a[0]) / (t_total / n_total) * 1e6)


# ---------------------------------------------------------------------------
# 5. Plan pins
# ---------------------------------------------------------------------------


def test_q154_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q154_tpch_q6_shape")
    assert "PushedFilters" in plan and "l_quantity" in plan.split(
        "PushedFilters", 1)[1][:400]


def test_q155_no_cartesian_and_no_global_rank(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q155_topk_rank_churn")
    assert "CartesianProduct" not in plan
    # the top-K window partitions by month — a global (unpartitioned)
    # row_number over the (month, part) frame would serialize ranking
    assert "partitionBy" not in plan  # plan text uses PartitionSpec
    assert "row_number" in plan


def test_q156_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q156_markov_prediction_eval")
    assert "CartesianProduct" not in plan


def test_q158_takeordered_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q158_salt_advisor")
    assert "TakeOrderedAndProject" in plan


def test_q159_adc_tables_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q159_pq_recall_audit")
    assert "BroadcastHashJoin" in plan  # codes x distance-table join
    assert "CartesianProduct" not in plan  # exact leg = broadcast NL


def test_q160_decile_frame_cached_for_both_consumers(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q160_decile_lift")
    # both consumers of the 10-row decile frame (totals aggregate +
    # final lift join) read the cache — the FileScan appears only
    # inside the InMemoryRelation's stored definition, so the orders
    # scan executes once
    assert plan.count("InMemoryTableScan") == 2
    assert "CartesianProduct" not in plan


def test_q160_all_train_corpus_nulls_lift(spark, sf_dir, tmp_path):
    """The t_total = 0 guard (review finding): on a corpus whose every
    order predates the pivot, lift is undefined — both engines must
    agree on NULL rather than diverge on a double /0 (inf vs cast
    error). Built by rewriting orders to the pre-pivot subset and
    linking the other tables unchanged."""
    import os
    import shutil

    import duckdb

    from .oracle import TABLE_NAMES

    d = tmp_path / "all_train"
    d.mkdir()
    for t in TABLE_NAMES:
        if t != "orders":
            shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM '{sf_dir}/orders.parquet' "
        "WHERE o_orderdate < TIMESTAMP '1999-01-01') "
        f"TO '{d}/orders.parquet' (FORMAT PARQUET)")
    con.close()
    got = _run("q160_decile_lift", spark, str(d)).collect()
    assert got and all(r.lift_e6 is None for r in got)
    assert all(r.test_cents == 0 for r in got)
    # Value-level parity, not the driver-hash compare: an ALL-NULL
    # BIGINT column is the known pandas-dtype canonicalization gap
    # (DuckDB fetches it as float NaN, Spark as None — the q116
    # staging precedent). No driver corpus is all-train, so the pin
    # here is that both engines compute the SAME rows and neither
    # errors on the guarded /0.
    duck = duck_connection(str(d))
    try:
        orows = duck.execute(
            STAGED["q160_decile_lift"].oracle).fetchall()
    finally:
        duck.close()
    import math as _math

    assert len(orows) == len(got)
    for s, o in zip(got, orows):
        assert (s.decile, s.n_cust, s.train_cents, s.test_cents) == o[:4]
        assert o[4] is None or _math.isnan(o[4])
