"""First r13-staged batch for ROUND-18 registration: q149
leave-one-out hit-rate@5 of the q138 co-occurrence recommender
(receval.py), q150 bipartite co-HITS authority ranking (cohits.py),
q151 the two-step Lloyd convergence audit (lloyd2.py), q152 the two
chained BPE merge rounds (bpe2.py), and q153 the directional source
containment matrix (srccontain.py).

Same checks as tests/test_staged_r17.py: staging containment, oracle
parity through the driver-mirror harness, full Python replays, and
plan/identity pins.
"""

from __future__ import annotations

import math
from collections import defaultdict
from itertools import combinations

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import (
    bpe2,
    cohits,
    lloyd2,
    receval,
    srccontain,
)
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import (
    compare,
    duck_connection,
    round_half_away,
    toks_replay,
)

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for mod in (receval, cohits, lloyd2, bpe2, srccontain)
    for name, (fn, oracle, desc, tags) in mod.STAGED.items()
}


def _run(name, spark, sf_dir):
    return STAGED[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = STAGED[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_staged_entries_are_not_registered():
    reg = all_queries()
    assert sorted(STAGED) == [
        "q149_recommender_hit_rate", "q150_bipartite_hits",
        "q151_lloyd_two_steps", "q152_bpe_two_merges",
        "q153_source_containment"]
    for name in STAGED:
        assert name not in reg, (
            f"{name} is registered — the r18 staging plan "
            "(GATE_r13.md) no longer matches"
        )


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in sorted(STAGED):
            problems = compare(name, spark, duck, sf_dir, STAGED)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


def _neighbors(baskets):
    """The q138 replay: top-5 cosine neighbors per item."""
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
        neigh[i].append((-cos, j))
        neigh[j].append((-cos, i))
    return {i: [j for _, j in sorted(v)[:5]] for i, v in neigh.items()}


def test_q149_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_partkey").collect()
    baskets = defaultdict(set)
    for r in rows:
        baskets[r.l_orderkey].add(r.l_partkey)
    nb = _neighbors(baskets)
    n_eval, n_hits = 0, 0
    for items in baskets.values():
        if len(items) < 2:
            continue
        h = max(items)
        n_eval += 1
        pred = {j for p in items if p != h for j in nb.get(p, ())}
        n_hits += h in pred
    got = _run("q149_recommender_hit_rate", spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_eval, r.n_hits) == (n_eval, n_hits)
    assert r.hit_rate_e6 == n_hits * 1_000_000 // n_eval
    assert 0 < r.n_eval
    assert 0 < r.n_hits <= r.n_eval  # the in-sample fit should hit some


def test_q150_matches_bruteforce(spark, sf_dir):
    t = tables(spark, sf_dir)
    cust_of = {r.o_orderkey: r.o_custkey for r in
               t["orders"].select("o_orderkey", "o_custkey").collect()}
    edges = {(cust_of[r.l_orderkey], r.l_partkey) for r in
             t["lineitem"].select("l_orderkey", "l_partkey").collect()}
    a0: dict = defaultdict(int)
    for c, p in edges:
        a0[p] += 1
    h1: dict = defaultdict(int)
    for c, p in edges:
        h1[c] += a0[p]
    a2: dict = defaultdict(int)
    for c, p in edges:
        a2[p] += h1[c]
    expect = sorted(((-a2[p], p) for p in a2))[:20]
    got = [(r.rank, r.p_partkey, r.n_buyers, int(r.authority2)) for r in
           _run("q150_bipartite_hits", spark, sf_dir).collect()]
    assert got == [
        (i + 1, p, a0[p], -na) for i, (na, p) in enumerate(expect)]


def test_q150_plan_takeordered_cached_edges(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q150_bipartite_hits")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort
    assert "InMemoryTableScan" in plan  # cached edge frame


_round_half_away = round_half_away


def _lloyd_two_step_replay(rows):
    """Both Lloyd steps in plain Python under the exact contracts:
    e12 step-1 distances, e6-domain update (empty lists keep the old
    centroid), e6-domain step-2 distances against the ONE-double
    updated coordinates."""
    n = len(rows)
    # the operating-point clamp can exceed n on tiny corpora; the
    # engine's centroid slice is then just the whole corpus
    n_lists = min(max(_round_half_away(math.sqrt(n)), 8), 4096)
    cent = [v for _, v in rows[:n_lists]]
    n_lists = len(cent)
    d = len(rows[0][1])

    def d2_e12(a, b):
        return sum(
            _round_half_away((float(x) - float(y))
                             * (float(x) - float(y)) * 1e12)
            for x, y in zip(a, b))

    a1 = {}
    for vid, vec in rows:
        d2s = [d2_e12(vec, c) for c in cent]
        a1[vid] = min(range(n_lists), key=lambda i: (d2s[i], i))
    sums = defaultdict(lambda: [0] * d)
    pop = defaultdict(int)
    for vid, vec in rows:
        lst = a1[vid]
        pop[lst] += 1
        for j, x in enumerate(vec):
            sums[lst][j] += _round_half_away(float(x) * 1e6)
    c1 = []
    for lst in range(n_lists):
        if pop[lst]:
            c1.append([float(s) / pop[lst] for s in sums[lst]])
        else:
            c1.append([float(_round_half_away(float(x) * 1e6))
                       for x in cent[lst]])
    a2 = {}
    for vid, vec in rows:
        ve = [float(_round_half_away(float(x) * 1e6)) for x in vec]
        d2s = [
            sum(_round_half_away((v - c) * (v - c))
                for v, c in zip(ve, cl))
            for cl in c1
        ]
        a2[vid] = min(range(n_lists), key=lambda i: (d2s[i], i))
    out = []
    for lst in range(n_lists):
        m1 = [vid for vid in a1 if a1[vid] == lst]
        m2 = [vid for vid in a2 if a2[vid] == lst]
        out.append((lst, len(m1), sum(m1), len(m2), sum(m2),
                    sum(1 for vid in m1 if a2[vid] != lst)))
    return out


def test_q151_matches_bruteforce(spark, sf_dir):
    rows = sorted(
        (r.vec_id, list(r.embedding)) for r in
        tables(spark, sf_dir)["embeddings"].select(
            "vec_id", "embedding").collect()
    )
    expect = _lloyd_two_step_replay(rows)
    got = [(r.list_id, r.n_step1, r.vid_sum1, r.n_step2, r.vid_sum2,
            r.n_moved_out) for r in
           _run("q151_lloyd_two_steps", spark, sf_dir).collect()]
    assert got == expect


def test_q151_conservation_and_movement(spark, sf_dir):
    """Both assignments partition the whole corpus (counts and vid
    checksums conserve), and movement is bounded by the donor list's
    step-1 population."""
    rows = tables(spark, sf_dir)["embeddings"].select(
        "vec_id").collect()
    n, vid_total = len(rows), sum(r.vec_id for r in rows)
    got = _run("q151_lloyd_two_steps", spark, sf_dir).collect()
    assert sum(r.n_step1 for r in got) == n
    assert sum(r.n_step2 for r in got) == n
    assert sum(r.vid_sum1 for r in got) == vid_total
    assert sum(r.vid_sum2 for r in got) == vid_total
    for r in got:
        assert 0 <= r.n_moved_out <= r.n_step1


def test_q151_plan_broadcast_no_cartesian(spark, sf_dir):
    """Both assignment passes meet broadcast coordinate frames; the
    corpus never shuffles whole vectors for them."""
    plan = _plan(spark, sf_dir, "q151_lloyd_two_steps")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan  # cached step-1 assignment


def test_q149_neighbor_definition_is_q138s(spark, sf_dir):
    """One-definition pin: the eval's prediction pool is exactly the
    registered-to-be q138 frame (builder call + oracle subquery), so
    a q138 change cannot silently diverge the eval."""
    from bucket_to_bigquery_spark.staged.cooccur import (
        _Q138_ORACLE,
        q138,
    )

    assert _Q138_ORACLE in STAGED[
        "q149_recommender_hit_rate"].oracle
    nb = q138(spark, sf_dir)
    assert {"partkey", "neighbor"} <= set(nb.columns)


# ---------------------------------------------------------------------------
# q152 — two chained BPE merges
# ---------------------------------------------------------------------------


_toks = toks_replay


def _bpe_two_rounds(texts):
    """Plain-Python replay: round-1 pair counts, GREEDY left-to-right
    application of the (count DESC, pair ASC) winner, round-2 counts;
    both rounds' top-10."""
    docs = [t for t in (_toks(x) for x in texts) if len(t) >= 2]

    def count_pairs(seqs):
        c: dict = defaultdict(int)
        for t in seqs:
            for i in range(len(t) - 1):
                c[f"{t[i]} {t[i + 1]}"] += 1
        return c

    def top(c):
        return sorted(((-n, p) for p, n in c.items()))[:10]

    c1 = count_pairs(docs)
    if not c1:
        return []
    wa, wb = min(((-n, p) for p, n in c1.items()))[1].split(" ")
    merged_docs = []
    for t in docs:
        out, i = [], 0
        while i < len(t):
            if i + 1 < len(t) and t[i] == wa and t[i + 1] == wb:
                out.append(t[i] + "\x1f" + t[i + 1])
                i += 2
            else:
                out.append(t[i])
                i += 1
        merged_docs.append(out)
    c2 = count_pairs(d for d in merged_docs if len(d) >= 2)
    rows = [(1, r + 1, p, -n) for r, (n, p) in enumerate(top(c1))]
    rows += [(2, r + 1, p, -n) for r, (n, p) in enumerate(top(c2))]
    return rows


def test_q152_matches_bruteforce(spark, sf_dir):
    texts = [r.text for r in
             tables(spark, sf_dir)["documents"].select("text").collect()]
    expect = _bpe_two_rounds(texts)
    got = [(r.round, r.rank, r.pair, r.n) for r in
           _run("q152_bpe_two_merges", spark, sf_dir).collect()]
    assert got == expect


def test_q152_overlapping_runs_merge_greedily(spark, tmp_path):
    """The A == B pathology the run-parity windows exist for: corpora
    whose winning pair overlaps itself ('a a a a a') must merge
    greedily left-to-right in BOTH engines AND the replay."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "bpe_sf"
    d.mkdir()
    texts = ["a a a a a", "a a b a a", "b b b", "c"]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2, 3, 4], type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(["en"] * 4, type=pa.string()),
            "source": pa.array(["web"] * 4, type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts],
                                type=pa.int64()),
        }),
        d / "documents.parquet",
    )
    # satisfy the catalog: minimal copies of the other tables, from
    # the suite's configured SF dir (portable under B2BQS_TEST_SF_DIR)
    import shutil

    from .conftest import SF_DIR

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    bad = str(d)
    duck = duck_connection(bad)
    try:
        assert not compare("q152_bpe_two_merges", spark, duck, bad,
                           STAGED)
    finally:
        duck.close()
    got = [(r.round, r.rank, r.pair, r.n) for r in
           _run("q152_bpe_two_merges", spark, bad).collect()]
    assert got == _bpe_two_rounds(texts)
    # the greedy semantics, spelled out: 'a a a a a' merges positions
    # 1-2 and 3-4 (runs keep odd indexes), leaving a trailing 'a'
    r2 = {p: n for rnd, _, p, n in got if rnd == 2}
    assert r2["a\x1fa a\x1fa"] == 1
    assert r2["a\x1fa a"] == 1  # doc 1's tail + none from doc 2


def test_q152_round1_is_q67s_statistic(spark, sf_dir):
    """One-definition pin (the q149/_Q138_ORACLE pattern): q152's
    round-1 rows must BE q67's registered pair statistic (top-10 of
    its top-30), and the oracle's pair fragment must appear verbatim
    inside q67's oracle — a q67 pair-definition change cannot
    silently diverge the chain."""
    from bucket_to_bigquery_spark.queries.tokenstats import (
        _Q67_ORACLE,
        q67,
    )

    frag = bpe2._PAIRS_SQL.format(t="t")
    assert frag in _Q67_ORACLE
    q67_rows = [(r.rank, r.pair, r.n) for r in
                q67(spark, sf_dir).collect() if r.rank <= 10]
    r1_rows = [(r.rank, r.pair, r.n) for r in
               _run("q152_bpe_two_merges", spark, sf_dir).collect()
               if r.round == 1]
    assert r1_rows == q67_rows


def test_q152_plan_doc_partitioned_windows(spark, sf_dir):
    """The greedy-run machinery windows BY DOCUMENT (parallel), and
    both rounds' top-10 are TakeOrdered — never a global sort of the
    pair frame."""
    plan = _plan(spark, sf_dir, "q152_bpe_two_merges")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "InMemoryTableScan" in plan  # cached tokenization


# ---------------------------------------------------------------------------
# q153 — directional source containment
# ---------------------------------------------------------------------------


def test_q153_matches_bruteforce(spark, sf_dir):
    rows = tables(spark, sf_dir)["documents"].select(
        "source", "text").collect()
    sets: dict = defaultdict(set)
    for r in rows:
        t = _toks(r.text)
        for i in range(len(t) - 4):
            sets[r.source].add(" ".join(t[i:i + 5]))
    expect = []
    for a in sets:
        for b in sets:
            if a == b:
                continue
            shared = len(sets[a] & sets[b])
            if shared:
                expect.append((a, b, len(sets[a]), shared,
                               shared * 1_000_000 // len(sets[a])))
    expect.sort()
    got = [(r.source_a, r.source_b, r.n_a, r.n_shared,
            r.containment_e6) for r in
           _run("q153_source_containment", spark, sf_dir).collect()]
    assert got == expect
    # directionality is the point: containment must differ between the
    # two orientations of at least one pair (unequal set sizes)
    by_pair = {(a, b): c for a, b, _, _, c in got}
    assert any(by_pair.get((b, a)) not in (None, c)
               for (a, b), c in by_pair.items())


def test_q153_fold_is_q89s(spark, sf_dir):
    """One-definition pins, post-hoist (r15, GATE_r13 deferred #7
    closed): the tok/raw/h/sizes pipeline lives ONCE in overlap.py —
    both oracles interpolate _SRC_SHINGLE_CTES (which itself embeds
    _SHKEY_SQL) and both builders call source_shingle_sets, so a q89
    recipe change cannot desync q153."""
    import inspect

    from bucket_to_bigquery_spark.staged import srccontain
    from bucket_to_bigquery_spark.queries.overlap import (
        _Q89_ORACLE,
        _SHKEY_SQL,
        _SRC_SHINGLE_CTES,
        source_shingle_sets,
    )
    from bucket_to_bigquery_spark.staged.srccontain import _Q153_ORACLE

    assert _SHKEY_SQL in _SRC_SHINGLE_CTES
    assert _SRC_SHINGLE_CTES in _Q89_ORACLE
    assert _SRC_SHINGLE_CTES in _Q153_ORACLE
    assert srccontain.source_shingle_sets is source_shingle_sets
    assert "source_shingle_sets(docs)" in inspect.getsource(srccontain.q153)
