"""q93 PMI collocations (collocations.py), q94 FD audit (fd.py), q95
shingle novelty (novelty.py), q96 PSI drift (psi.py).

Checked here:

1. **Registration** — the modules register exactly these entries, each
   with its oracle and description.
2. **Oracle parity** — each builder matches its DuckDB oracle through
   the same compare harness the driver mirrors.
3. **Per-entry semantics** beyond the hash: full Python replays (PMI
   ranking, modal-FD compliance, first-seen novelty, smoothed PSI) and
   plan-shape pins (cached single tokenization, no cartesian products,
   broadcast marginals).
"""

from __future__ import annotations

import math
from collections import defaultdict

from bucket_to_bigquery_spark.queries import (
    collocations,
    fd,
    novelty,
    psi,
)
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(collocations, fd, novelty, psi)


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _toks(text: str) -> list[str]:
    return " ".join(text.lower().split()).split(" ") if text else [""]


# ---------------------------------------------------------------------------
# 1. Registration wiring
# ---------------------------------------------------------------------------


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q93_pmi_collocations",
        "q94_fd_audit",
        "q95_shingle_novelty",
        "q96_psi_drift",
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
# 3. q93 — PMI collocations
# ---------------------------------------------------------------------------


def test_q93_matches_bruteforce(spark, sf_dir):
    """Replay: adjacent-pair + unigram counts in Python, identical
    PMI formula, identical (pmi, a, b) total order; ±1 e9-unit per
    row for libm ln ulps."""
    from bucket_to_bigquery_spark.queries.collocations import _MIN_PAIR, _TOP

    docs = tables(spark, sf_dir)["documents"].select("text").collect()
    pc: dict = defaultdict(int)
    uc: dict = defaultdict(int)
    for r in docs:
        t = _toks(r.text)
        for tok in t:
            uc[tok] += 1
        for a, b in zip(t, t[1:]):
            pc[(a, b)] += 1
    nt, np_ = sum(uc.values()), sum(pc.values())
    scored = []
    for (a, b), cab in pc.items():
        if cab < _MIN_PAIR:
            continue
        x = math.log((cab / np_) / ((uc[a] / nt) * (uc[b] / nt)))
        e9 = math.floor(x * 1e9 + 0.5) if x >= 0 else -math.floor(-x * 1e9 + 0.5)
        scored.append((-e9, a, b, cab))
    scored.sort()
    expect = scored[:_TOP]
    got = _run("q93_pmi_collocations", spark, sf_dir).collect()
    assert len(got) == len(expect)
    for row, (neg_e9, a, b, cab) in zip(got, expect):
        assert (row.term_a, row.term_b, row.pair_count) == (a, b, cab)
        assert abs(row.pmi_e9 - (-neg_e9)) <= 1, (a, b)
    # every returned pair clears the floor
    assert all(r.pair_count >= _MIN_PAIR for r in got)


def test_q93_single_tokenization_and_broadcast_marginals(spark, sf_dir):
    """Pair and unigram counts must both read the CACHED tokenization;
    the marginal joins broadcast (vocabulary-bounded); no cartesian
    product and no sort-merge join anywhere."""
    plan = _plan(spark, sf_dir, "q93_pmi_collocations")
    assert plan.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan  # top-100, no global sort


# ---------------------------------------------------------------------------
# 3. q94 — FD audit
# ---------------------------------------------------------------------------


def test_q94_matches_bruteforce(spark, sf_dir):
    """Exact replay of modal-value compliance per declared candidate,
    including the two FDs that hold and NULL keys/values as values."""
    from bucket_to_bigquery_spark.queries.fd import _CANDIDATES

    got = {(r.table_name, r.lhs, r.rhs): r
           for r in _run("q94_fd_audit", spark, sf_dir).collect()}
    assert set(got) == set(_CANDIDATES)
    holds = []
    for tbl, lhs, rhs in _CANDIDATES:
        rows = tables(spark, sf_dir)[tbl].select(lhs, rhs).collect()
        per_key: dict = defaultdict(lambda: defaultdict(int))
        for r in rows:
            per_key[r[0]][r[1]] += 1
        n_rows = len(rows)
        n_keys = len(per_key)
        n_compliant = sum(max(v.values()) for v in per_key.values())
        r = got[(tbl, lhs, rhs)]
        assert (r.n_rows, r.n_keys, r.n_compliant) == (
            n_rows, n_keys, n_compliant)
        assert r.fd_holds == (n_rows == n_compliant)
        assert r.compliance_e6 == math.floor(n_compliant / n_rows * 1e6 + 0.5)
        holds.append(r.fd_holds)
    # the candidate list is interesting in both directions on this corpus
    assert any(holds) and not all(holds)


# ---------------------------------------------------------------------------
# 3. q95 — shingle novelty
# ---------------------------------------------------------------------------


def test_q95_matches_bruteforce(spark, sf_dir):
    """Replay first-seen novelty: distinct 5-gram shingles per doc,
    min-doc ownership, zero-shingle docs kept at novelty 0."""
    docs = tables(spark, sf_dir)["documents"].select("doc_id", "text").collect()
    per_doc: dict = {}
    first: dict = {}
    for r in sorted(docs, key=lambda r: r.doc_id):
        t = _toks(r.text)
        shs = {" ".join(t[i:i + 5]) for i in range(len(t) - 4)}
        per_doc[r.doc_id] = shs
        for s in shs:
            first.setdefault(s, r.doc_id)
    got = {r.doc_id: r for r in _run("q95_shingle_novelty", spark, sf_dir).collect()}
    assert set(got) == set(per_doc)
    saw_zero = saw_partial = False
    for d, shs in per_doc.items():
        r = got[d]
        n_novel = sum(1 for s in shs if first[s] == d)
        assert r.n_shingles == len(shs)
        assert r.n_novel == n_novel
        if not shs:
            assert r.novelty_e6 == 0
            saw_zero = True
        else:
            assert r.novelty_e6 == math.floor(n_novel / len(shs) * 1e6 + 0.5)
            if 0 < n_novel < len(shs):
                saw_partial = True
    # the corpus exercises the interesting cells
    assert saw_partial
    # doc 0 (first doc with shingles) is fully novel by construction
    d0 = min(d for d, shs in per_doc.items() if shs)
    assert got[d0].novelty_e6 == 1_000_000
    del saw_zero  # zero-shingle docs may not exist at every sf — not pinned


def test_q95_narrow_join_no_pairs_no_hof_filters(spark, sf_dir):
    """r16 shape: still no doc-pair candidates (no cartesian, no
    nested-loop join), but the cached inverted index is GONE — per-doc
    set sizes are row-local (size(array_distinct)), so nothing needs a
    cache. Also pins the InferFiltersFromGenerate guard: explode_outer
    + isNotNull keeps the tokenize->shingle HOF chain out of every
    Filter condition and scan pushdown, where an inferred
    size(chain)>0 filter would re-evaluate the whole chain per row."""
    plan = _plan(spark, sf_dir, "q95_shingle_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" not in plan
    for line in plan.splitlines():
        if line.lstrip().startswith("Condition") or "PushedFilters" in line:
            assert "regexp_replace" not in line, line
            assert "split(" not in line, line


# ---------------------------------------------------------------------------
# 3. q96 — PSI drift
# ---------------------------------------------------------------------------


def test_q96_matches_bruteforce(spark, sf_dir):
    """Replay: reference-frozen fixed-width bins with edge clamping,
    Laplace smoothing, per-bin contribution; ±1 e9-unit for ln ulps.
    Non-negative contributions; identical halves ⇒ PSI would be 0."""
    from bucket_to_bigquery_spark.queries.psi import _NBINS

    rows = tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_totalprice").collect()
    ref = [r.o_totalprice for r in rows if r.o_orderkey % 2 == 0]
    cur = [r.o_totalprice for r in rows if r.o_orderkey % 2 == 1]
    mn, mx = min(ref), max(ref)
    w = (mx - mn) / 10.0 if mx > mn else 1.0
    rb = [0] * _NBINS
    cb = [0] * _NBINS
    for x, arr in ((ref, rb), (cur, cb)):
        for v in x:
            arr[min(max(int(math.floor((v - mn) / w)), 0), 9)] += 1
    got = _run("q96_psi_drift", spark, sf_dir).collect()
    assert [r.bin for r in got] == list(range(_NBINS))
    for r in got:
        assert (r.ref_n, r.cur_n) == (rb[r.bin], cb[r.bin])
        pr = (rb[r.bin] + 0.5) / (len(ref) + 5.0)
        pc_ = (cb[r.bin] + 0.5) / (len(cur) + 5.0)
        x = (pc_ - pr) * math.log(pc_ / pr)
        assert abs(r.psi_contrib_e9 - math.floor(x * 1e9 + 0.5)) <= 1, r.bin
        assert r.psi_contrib_e9 >= 0  # (p_c-p_r) and ln share sign
    # counts complete: every row binned exactly once
    assert sum(r.ref_n for r in got) == len(ref)
    assert sum(r.cur_n for r in got) == len(cur)


def test_q96_bounded_frames_broadcast(spark, sf_dir):
    """Stats and bin frames broadcast; nothing after the two scans is
    row-count-sized: no sort-merge join, no cartesian product."""
    plan = _plan(spark, sf_dir, "q96_psi_drift")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
