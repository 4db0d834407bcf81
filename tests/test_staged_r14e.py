"""q130 Lloyd-update step audit (lloyd_step.py) — the final shrink of
the q48b/c/d rows-only exemption to the convergence loop alone.

Same three checks as tests/test_staged_r14.py: registration, oracle
parity through the driver-mirror harness, and a full Python brute-force
replay + plan pins. The replay recomputes the e12 assignment and the
scaled-int update from raw floats with no calls into
operators/similarity — an independent pin of the contracts the builder
shares with q48g/q48h/q127.
"""

from __future__ import annotations

import math
from collections import defaultdict

from bucket_to_bigquery_spark.queries import lloyd_step
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(lloyd_step)


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


def _plan(spark, sf_dir, name: str) -> str:
    df = ENTRIES[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _round_half_away(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def _operating_point(n: int) -> int:
    return min(max(_round_half_away(math.sqrt(n)), 8), 4096)


def _d2_e12(a, b) -> int:
    return sum(
        _round_half_away((float(x) - float(y)) * (float(x) - float(y)) * 1e12)
        for x, y in zip(a, b)
    )


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q130_lloyd_step_audit",
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


def test_q130_matches_bruteforce(spark, sf_dir):
    """Replay the whole step: injection, e12 argmin (ties -> lowest
    list), e6-integer component means, per-dim rounded shift terms."""
    rows = sorted(
        tables(spark, sf_dir)["embeddings"].select(
            "vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    cent = [list(rows[i].embedding)
            for i in range(_operating_point(len(rows)))]
    assigned: dict = defaultdict(list)
    for r in rows:
        d2s = [_d2_e12(r.embedding, c) for c in cent]
        assigned[d2s.index(min(d2s))].append(r.embedding)
    expect = []
    for lid in range(len(cent)):
        vecs = assigned.get(lid, [])
        if not vecs:
            expect.append((lid, 0, 0))
            continue
        n = len(vecs)
        shift = 0
        for j in range(len(cent[lid])):
            s = sum(_round_half_away(float(v[j]) * 1e6) for v in vecs)
            old = _round_half_away(float(cent[lid][j]) * 1e6)
            shift += _round_half_away((s / n - old) * (s / n - old))
        expect.append((lid, n, shift))
    got = _run("q130_lloyd_step_audit", spark, sf_dir).collect()
    assert [(r.list_id, r.n_assigned, r.shift_sq_e12) for r in got] == expect


def test_q130_population_and_fixed_points(spark, sf_dir):
    """Conservation + degenerate-list behavior: list populations sum to
    the corpus, at least one centroid genuinely moves, and empty lists
    keep their centroid (shift exactly 0 — the _lloyd guard)."""
    n_corpus = tables(spark, sf_dir)["embeddings"].count()
    got = _run("q130_lloyd_step_audit", spark, sf_dir).collect()
    assert sum(r.n_assigned for r in got) == n_corpus
    assert any(r.shift_sq_e12 > 0 for r in got), (
        "no list moved — the update step is vacuous")
    assert all(r.shift_sq_e12 == 0 for r in got if r.n_assigned == 0)


def test_q130_plan_arrow_pass_and_broadcasts(spark, sf_dir):
    """The r16 fused fit-audit shape: ONE Arrow (mapInPandas) corpus
    pass emitting per-task partial component sums/counts, reduced by a
    plain aggregation — the old cache/posexplode/broadcast-join chain
    is gone, so the plan is join-free and cache-free, and the corpus
    scan reads ONLY the embedding column."""
    plan = _plan(spark, sf_dir, "q130_lloyd_step_audit")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "InMemoryTableScan" not in plan
    assert "struct<embedding:array<float>>" in plan
