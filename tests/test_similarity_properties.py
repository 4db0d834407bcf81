"""Property tests for the exact-similarity integer contract.

The Arrow scorer in ``cosine_topk_exact`` replicates SQL ROUND
(half away from zero) in numpy; that replication is THE parity-critical
claim — a single divergent rounding flips a scaled-int dot and with it
a hash row at the driver gate. Pin it three ways: against DuckDB's
``round()`` (the oracle engine), against Spark's ``F.round`` (the
engine the lambda path used), and on adversarial exact-half values.
Then pin the full scorer against a pure-numpy brute-force reference on
random vectors (a third implementation, independent of the operator's
own batching)."""

from __future__ import annotations

import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from bucket_to_bigquery_spark.operators.similarity import (
    _round_nearest_ties_away_e12,
    cosine_topk_exact,
)

finite_products = st.floats(
    min_value=-2e12, max_value=2e12, allow_nan=False, allow_infinity=False
)


@settings(max_examples=200, deadline=None)
@given(st.lists(finite_products, min_size=1, max_size=50))
def test_numpy_round_matches_duckdb_round(values):
    ours = _round_nearest_ties_away_e12(np.asarray(values, dtype="float64"))
    con = duckdb.connect()
    theirs = [
        con.execute(
            "SELECT CAST(round(CAST(? AS DOUBLE), 0) AS BIGINT)", [v]
        ).fetchone()[0]
        for v in values
    ]
    assert list(ours) == theirs, (values, list(ours), theirs)


def test_numpy_round_exact_halves_away_from_zero():
    # exact .5 doubles are where half-up vs half-even implementations split
    halves = np.asarray(
        [0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 1023.5, -1023.5, 1e6 + 0.5],
        dtype="float64",
    )
    assert list(_round_nearest_ties_away_e12(halves)) == [
        1, -1, 2, -2, 3, -3, 1024, -1024, 1000001,
    ]


def test_numpy_round_one_ulp_below_half_rounds_down():
    # the classic floor(abs+0.5) idiom fails HERE: 0.49999999999999994
    # + 0.5 rounds UP to 1.0 in float64 before the floor, while both
    # engines round the actual value (just below one half) to 0 — the
    # round-6 review regression; rint + exact-tie correction must hold
    below = np.asarray(
        [0.49999999999999994, -0.49999999999999994,
         1.4999999999999998, -1.4999999999999998],
        dtype="float64",
    )
    assert list(_round_nearest_ties_away_e12(below)) == [0, 0, 1, -1]
    con = duckdb.connect()
    for v, want in zip(below, [0, 0, 1, -1]):
        got = con.execute(
            "SELECT CAST(round(CAST(? AS DOUBLE), 0) AS BIGINT)", [float(v)]
        ).fetchone()[0]
        assert got == want, (v, got)


def test_numpy_round_matches_spark_round(spark):
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    vals = np.concatenate([
        rng.uniform(-2e12, 2e12, 200),
        rng.uniform(-2.0, 2.0, 200),
        np.asarray([0.5, -0.5, 2.5, -2.5, 1e9 + 0.5, -(1e9 + 0.5)]),
    ])
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    spark_rounded = [
        r[0] for r in df.select(F.round("v").cast("long")).collect()
    ]
    assert list(_round_nearest_ties_away_e12(vals)) == spark_rounded


def test_cosine_topk_matches_pure_numpy_reference(spark):
    rng = np.random.RandomState(23)
    n, dim, k = 40, 8, 3
    vecs = rng.standard_normal((n, dim)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["q_id"], r["rank"]): (r["n_id"], r["cosine"])
        for r in cosine_topk_exact(df, df.where("vec_id < 5"), k=k).collect()
    }
    # independent reference: same integer contract, naive loops
    x = vecs.astype("float64")
    norms = _round_nearest_ties_away_e12(x * x * 1e12).sum(axis=1)
    for q in range(5):
        scored = []
        for j in range(n):
            if j == q:
                continue
            dot = _round_nearest_ties_away_e12(x[q] * x[j] * 1e12).sum()
            cos = float(dot) / (np.sqrt(float(norms[q])) * np.sqrt(float(norms[j])))
            scored.append((-cos, j))
        scored.sort()
        for rank, (negcos, j) in enumerate(scored[:k], start=1):
            n_id, cos = got[(q, rank)]
            assert n_id == j, (q, rank)
            assert cos == -negcos, (q, rank)  # bit-identical, not approx


# ---------------------------------------------------------------------------
# r12: the exact e12 DISTANCE contract (q48g's engine) — numpy vs the
# DuckDB SQL twin on adversarial float32 vectors
# ---------------------------------------------------------------------------

f32_components = st.floats(
    min_value=-10.0, max_value=10.0, allow_nan=False, allow_infinity=False,
    width=32,
)


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=6).flatmap(
        lambda d: st.tuples(
            st.lists(st.lists(f32_components, min_size=d, max_size=d),
                     min_size=1, max_size=4),
            st.lists(st.lists(f32_components, min_size=d, max_size=d),
                     min_size=1, max_size=4),
        )
    )
)
def test_d2_e12_rows_matches_duckdb_sql_twin(xc):
    """Σ round((xᵢ−cᵢ)²·1e12) must be bit-identical between the numpy
    path (operators.similarity._d2_e12_rows) and the SQL fragment the
    q48g/q48h/q130 oracles use (queries.llm_queries._D2_E12_SQL) — on arbitrary
    float32 inputs including negatives, zeros and subnormal-ish
    magnitudes, not just the synthetic embedding distribution. |x| ≤ 10
    keeps the 64-dim worst case far inside int64."""
    from bucket_to_bigquery_spark.operators.similarity import _d2_e12_rows
    from bucket_to_bigquery_spark.queries.llm_queries import _D2_E12_SQL

    xs, cs = xc
    x = np.asarray(xs, dtype="float32").astype("float64")
    c = np.asarray(cs, dtype="float32").astype("float64")
    ours = _d2_e12_rows(x, c)
    con = duckdb.connect()
    expr = _D2_E12_SQL.format(a="a", b="b")
    for i, xv in enumerate(xs):
        for j, cv in enumerate(cs):
            theirs = con.execute(
                f"SELECT {expr} FROM "
                "(SELECT ?::FLOAT[] AS a, ?::FLOAT[] AS b)", [xv, cv]
            ).fetchone()[0]
            assert int(ours[i, j]) == theirs, (xv, cv, int(ours[i, j]), theirs)
    con.close()


def test_lloyd_and_calibrate_peak_memory_bounded_at_v5_caps():
    """The r12 chunked-GEMM claim (GATE_r12.md #1 / VERDICT r12 #5): at
    the v5 operating caps (fit sample 65536, n_lists 4096, d 64) the
    previous full sample x lists float64 matmul peaked at ~2.1 GB
    driver-side PER CALL; the row-chunked ``_argmin_d2`` bounds the
    working slice to ~64 MB. The r12 change is behavioral on the hot
    path and was pinned only by value tests — this pins the MEMORY
    bound itself: tracemalloc (numpy arrays are tracked via
    PyTraceMalloc) must see peak extra allocation well under the old
    full-matrix cost for both the fit and the calibration.

    Budget arithmetic: inputs x (65536x64 f64 = 32 MB) + centroids
    (2 MB) live across the call; the chunked slice is 2048x4096x8
    = 64 MB; scatter-add/assignment temporaries add ~tens of MB. A
    400 MB ceiling is ~5x headroom over the design cost and ~5x below
    the 2.1 GB regression signature."""
    import tracemalloc

    from bucket_to_bigquery_spark.operators.similarity import (
        _calibrate_n_probe,
        _lloyd,
    )

    rng = np.random.RandomState(7)
    x = rng.standard_normal((65536, 64))

    tracemalloc.start()
    tracemalloc.reset_peak()
    base, _ = tracemalloc.get_traced_memory()
    cent = _lloyd(x, 4096, seed=42, iters=2)
    _, peak_fit = tracemalloc.get_traced_memory()
    tracemalloc.reset_peak()
    n_probe = _calibrate_n_probe(x, cent, target=0.9, k=5, n_cal=64)
    _, peak_cal = tracemalloc.get_traced_memory()
    tracemalloc.stop()

    limit = 400 * 1024 * 1024
    assert peak_fit - base < limit, f"_lloyd peaked at {(peak_fit-base)/2**20:.0f} MB"
    assert peak_cal - base < limit, f"_calibrate_n_probe peaked at {(peak_cal-base)/2**20:.0f} MB"
    # sanity: the fit actually produced the capped operating point and a
    # usable probe width (guards against a vacuous pass on early-exit)
    assert len(cent) == 4096
    assert 1 <= n_probe <= 4096


def test_assign_lists_e12_contract(spark):
    # the ONE shared exact-e12 assignment recipe (r16 fold): argmin of
    # _d2_e12_rows, ties -> lowest list id; keep_cols ride through with
    # their Spark types; empty input yields an empty, correctly-typed
    # frame. Reference = plain numpy over the same integer contract.
    import pandas as pd  # noqa: F401 — exercised inside the Arrow UDF

    from bucket_to_bigquery_spark.operators.similarity import (
        _d2_e12_rows,
        assign_lists_e12,
    )

    cent = np.asarray([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]])  # 0 == 2: tie
    rows = [
        (1, [0.9, 0.1]),   # nearest cent 0 (and 2) -> tie -> list 0
        (2, [0.1, 0.9]),   # nearest cent 1
        (3, [0.5, 0.5]),   # equidistant to ALL -> lowest list id 0
    ]
    frame = spark.createDataFrame(rows, "n_id long, n_vec array<float>")
    got = assign_lists_e12(frame, cent, keep_cols=("n_id", "n_vec"))
    assert [f.simpleString() for f in got.schema.fields] == [
        "n_id:bigint", "n_vec:array<float>", "list_id:bigint"]
    out = {r["n_id"]: r["list_id"] for r in got.collect()}
    x = np.asarray([np.asarray(v, dtype="float64") for _, v in rows])
    want = _d2_e12_rows(x, cent).argmin(axis=1)
    assert out == {1: int(want[0]), 2: int(want[1]), 3: int(want[2])}
    assert out[1] == 0 and out[3] == 0  # ties resolved to the lowest list
    # no keep_cols: output is just list_id
    only = assign_lists_e12(frame, cent)
    assert [f.name for f in only.schema.fields] == ["list_id"]
    assert sorted(r["list_id"] for r in only.collect()) == sorted(out.values())
    # empty input: empty result, same schema (the Arrow empty-batch path)
    empty = assign_lists_e12(frame.where("n_id < 0"), cent,
                             keep_cols=("n_id", "n_vec"))
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == ["n_id", "n_vec", "list_id"]
