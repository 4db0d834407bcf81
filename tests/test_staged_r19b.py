"""Second staged entry set for ROUND-19 registration (built late r14,
GATE_r14.md): q170 LEFT OUTER stream-stream interval join
(outer_join_stream.py) — the state-eviction-emitting capability, with
the emission rule itself empirically pinned.

Checks: staging containment, oracle parity through the driver-mirror
harness, a batch-side replay of the encoded eviction rule, and the
crafted boundary corpus that PINS the strict `< watermark` emission
semantics (equality withheld) the oracle encodes.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.staged import outer_join_stream
from bucket_to_bigquery_spark.queries.registry import (
    Query,
    _with_tuning,
    tables,
)

from .oracle import compare, duck_connection

STAGED: dict[str, Query] = {
    name: Query(name, _with_tuning(fn), oracle, desc, tags)
    for name, (fn, oracle, desc, tags) in outer_join_stream.STAGED.items()
}


def test_staged_entry_is_not_registered():
    reg = all_queries()
    assert sorted(STAGED) == ["q170_outer_stream_join"]
    for name in STAGED:
        assert name not in reg, (
            f"{name} is registered — the r19 staging plan "
            "(GATE_r14.md) no longer matches"
        )


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in sorted(STAGED):
            problems = compare(name, spark, duck, sf_dir, STAGED)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


def test_q170_matches_bruteforce_eviction_rule(spark, sf_dir):
    """Replay the encoded rule in Python: every matched pair emits;
    an unmatched click emits iff click_ts + 1h < min-side watermark,
    STRICTLY."""
    rows = tables(spark, sf_dir)["events"].select(
        "event_id", "ts", "user_id", "event_type").collect()
    clicks = [(r.user_id, r.event_id, r.ts) for r in rows
              if r.event_type == "click"]
    purch: dict = defaultdict(list)
    max_p = None
    for r in rows:
        if r.event_type == "purchase":
            purch[r.user_id].append((r.event_id, r.ts))
            max_p = r.ts if max_p is None else max(max_p, r.ts)
    max_c = max(ts for _, _, ts in clicks)
    wm = min(max_c, max_p) - dt.timedelta(hours=2)
    hour = dt.timedelta(hours=1)
    expected = set()
    for uid, cid, cts in clicks:
        matches = [(pid, pts) for pid, pts in purch.get(uid, ())
                   if cts <= pts <= cts + hour]
        if matches:
            for pid, _ in matches:
                expected.add((cid, pid))
        elif cts + hour < wm:  # STRICT — the pinned boundary
            expected.add((cid, None))
    got = {(r.click_id, r.purchase_id) for r in
           STAGED["q170_outer_stream_join"].builder(spark, sf_dir)
           .collect()}
    assert got == expected
    assert any(p is None for _, p in got), "eviction emissions must exist"
    assert any(p is not None for _, p in got), "matches must exist"


@pytest.fixture()
def boundary_dir(tmp_path):
    """Three clicks and one purchase engineered so that wm = 8h and
    click2's matchable horizon lands EXACTLY on it: c1 + 1h = 1h < wm
    (emit), c2 + 1h = 8h == wm (boundary), c3 + 1h = 11h > wm
    (withhold)."""
    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    tbl = pa.table({
        "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        "ts": pa.array([ts(0), ts(7), ts(10), ts(10)],
                       pa.timestamp("us")),
        "user_id": pa.array([1, 2, 3, 99], pa.int64()),
        "event_type": pa.array(
            ["click", "click", "click", "purchase"], pa.string()),
        "value": pa.array([1.0] * 4, pa.float64()),
        "props": pa.array(["{}"] * 4, pa.string()),
    })
    d = tmp_path / "boundary"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")
    return str(d)


def test_q170_boundary_is_strictly_less_than(spark, boundary_dir):
    """The empirical pin the oracle's STRICT `<` rests on: the click
    whose horizon equals the final watermark is WITHHELD. If a Spark
    upgrade flips this to `<=`, this test fails before any driver
    mismatch does."""
    from pyspark.sql import functions as F

    from bucket_to_bigquery_spark.streaming import run_stream_to_memory

    schema = spark.read.parquet(boundary_dir).schema
    s = spark.readStream.schema(schema).parquet(boundary_dir)
    clicks = (
        s.where(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        s.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("click_id", "purchase_id")
    out = run_stream_to_memory(joined, "append")
    assert sorted((r.click_id, r.purchase_id) for r in out.collect()) \
        == [(1, None)]
