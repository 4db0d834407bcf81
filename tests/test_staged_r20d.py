"""Fourth staged batch for ROUND-20 registration (built late r14,
GATE_r14.md): q173 language-ID confusion matrix (langeval.py) — the
classification-eval member of the evaluation family, auditing the
registered q49c classifier against the ground-truth lang column.

Checks: staging containment, oracle parity through the driver-mirror
harness, a full Python replay of the q49c profile scorer + the grid,
and the registry-embedding pin (the oracle is pulled from the q49c
registry entry itself — zero duplicated text).
"""

from __future__ import annotations

from collections import defaultdict

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import langeval
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import compare, duck_connection, toks_replay

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for name, (fn, oracle, desc, tags) in langeval.STAGED.items()
}


def test_staged_entry_is_not_registered():
    reg = all_queries()
    assert sorted(STAGED) == ["q173_langid_confusion"]
    for name in STAGED:
        assert name not in reg, (
            f"{name} is registered — the r20 staging plan "
            "(GATE_r14.md) no longer matches"
        )


def test_oracle_is_pulled_from_the_registry():
    """The one-definition pin, strongest form: the embedded classifier
    oracle IS the registry entry's text (no copy to drift)."""
    reg = all_queries()
    q49c = reg["q49c_language_id"].oracle
    oracle = STAGED["q173_langid_confusion"].oracle
    assert oracle.startswith(f"WITH pred AS (SELECT * FROM ({q49c})), ")


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in sorted(STAGED):
            problems = compare(name, spark, duck, sf_dir, STAGED)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


def test_q173_matches_bruteforce(spark, sf_dir):
    from bucket_to_bigquery_spark.queries.llm_queries import _LANG_PROFILES

    rows = tables(spark, sf_dir)["documents"].select(
        "lang", "text").collect()
    langs = sorted(_LANG_PROFILES)
    grid: dict = defaultdict(int)
    for r in rows:
        toks = toks_replay(r.text)
        scores = {lg: sum(t in set(ws) for t in toks)
                  for lg, ws in _LANG_PROFILES.items()}
        m = max(scores.values())
        pred = "und" if m == 0 else next(
            lg for lg in langs if scores[lg] == m)
        grid[(r.lang, pred)] += 1
    rt: dict = defaultdict(int)
    for (a, _), n in grid.items():
        rt[a] += n
    got = STAGED["q173_langid_confusion"].builder(spark, sf_dir).collect()
    assert [(r.actual, r.predicted) for r in got] == sorted(grid)
    for r in got:
        k = (r.actual, r.predicted)
        assert r.n == grid[k]
        assert r.actual_total == rt[r.actual]
        assert r.row_share_e6 == grid[k] * 1_000_000 // rt[r.actual]
    # the generated corpus writes language-consistent text — the
    # diagonal must dominate every class
    diag = {r.actual: r.row_share_e6 for r in got
            if r.actual == r.predicted}
    assert diag and all(v > 500_000 for v in diag.values())


def test_q173_inherits_q49cs_no_shuffle_scoring(spark, sf_dir):
    df = STAGED["q173_langid_confusion"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # grid cached for both consumers
