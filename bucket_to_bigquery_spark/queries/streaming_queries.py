"""Q36-Q41 — the declared streaming surface (SURVEY §2.C), oracle-checked.

Every query streams the ``events`` table from a multi-file parquet source
dir (materialized once per sf_dir) under ``Trigger.AvailableNow`` and
finalizes the sink contents deterministically. The DuckDB oracle states the
batch-equivalent SQL — for windowed aggregations that's exact; for the
append-mode watermark query the oracle mirrors Spark's emission rule
(verified empirically: a window is emitted iff
``window_end <= max(event_time) - delay``).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..scratch import materialize_once, scratch_path
from ..streaming import ingest_stream, run_stream_to_memory
from .registry import dsum, dsum_sql, query

# r17 (guide §2.1 partitioning is a per-operator decision, VERDICT r16
# "streaming family" item): a stateful stream's state-partition count is
# fixed by spark.sql.shuffle.partitions at FIRST checkpoint, and every
# micro-batch then pays per-INSTANCE state-store costs (instances =
# partitions × stores-per-operator — 4 for a stream-stream join — each
# with its own map versioning, delta commit and maintenance). These
# declared streams carry tiny state (q41c peaks at ~40k join rows at
# sf0.1, the aggs far less), so 32 cores × 4 stores was pure overhead:
# q41c measured addBatch ~12 s/batch with 128 instances vs ~4 s wall
# total at 8 partitions — interleaved A/B: wall median 10.16 → 4.05 s,
# process-tree cpu 51.8 → 9.0 s, identical 371 output rows. Partition
# count cannot change any query's RESULT (all sinks are re-sorted, and
# the sf0.001/sf0.01 oracle parity suite pins the values).
# The count is min(defaultParallelism, 8): the cores, capped at 8. It is
# not derived from state volume; the cap fits these small-state streams,
# where rows-per-state-partition stays far below the ~1M at which another
# partition pays for its commit overhead.


def _sized_stream_to_memory(sdf: DataFrame, output_mode: str) -> DataFrame:
    """run_stream_to_memory with the stream's state partition count set to
    ``min(defaultParallelism, 8)`` (see the module note above) for the
    lifetime of the (synchronous, AvailableNow) run, restored after, also
    when the run raises. It sets the session-global
    ``spark.sql.shuffle.partitions``, so it assumes single-threaded
    callers: a query planned on another thread meanwhile sees the count."""
    spark = sdf.sparkSession
    parts = min(spark.sparkContext.defaultParallelism, 8)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        return run_stream_to_memory(sdf, output_mode)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A streaming view of ``events``: the table split into 8 parquet files
    (micro-batch-able arrivals), ts already microsecond timestamps."""
    base = scratch_path("stream_events", sf_dir)
    materialize_once(
        base,
        lambda p: load_table(spark, sf_dir, "events")
        .repartition(8)
        .write.parquet(f"{p}/data"),
    )
    schema = spark.read.parquet(f"{base}/data").schema
    return spark.readStream.schema(schema).parquet(f"{base}/data")


def _win_cols():
    return (
        F.col("window.start").alias("w_start"),
        F.col("window.end").alias("w_end"),
    )


@query(
    "q36_tumbling_window",
    oracle=(
        "SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, "
        "time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS w_end, "
        "event_type, COUNT(*) AS n, " + dsum_sql("value", "total")
        + " FROM events GROUP BY w_start, w_end, event_type "
        "ORDER BY w_start, event_type"
    ),
    description=(
        "Q36: streaming tumbling-window count/sum per hour × event_type. "
        "Complete mode for the finite oracle run; production uses "
        "append+watermark (q39) so window state is evicted."
    ),
    tags=("streaming",),
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
    )
    return (
        _sized_stream_to_memory(agg, "complete")
        .select(*_win_cols(), "event_type", "n", "total")
        .orderBy("w_start", "event_type")
    )


@query(
    "q37_sliding_window",
    oracle=(
        # an event at t belongs to the 4 hour-long windows starting at
        # bucket15(t) - k*15min, k=0..3 — same epoch alignment as Spark's
        "WITH shifted AS (SELECT ts, value, "
        "time_bucket(INTERVAL '15 minutes', ts) - o.k * INTERVAL '15 minutes' AS w_start "
        "FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS k) o) "
        "SELECT w_start, w_start + INTERVAL '1 hour' AS w_end, "
        "COUNT(*) AS n, " + dsum_sql("value", "total")
        + " FROM shifted GROUP BY w_start ORDER BY w_start"
    ),
    description="Q37: sliding window (1 hour window, 15 minute slide).",
    tags=("streaming",),
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
    )
    return (
        _sized_stream_to_memory(agg, "complete")
        .select(*_win_cols(), "n", "total")
        .orderBy("w_start")
    )


@query(
    "q38_session_window",
    oracle=(
        # gaps-and-islands: a new session starts when the gap from the
        # previous event of the same user exceeds 30 minutes; Spark's
        # session_window end = last event + gap
        "WITH marked AS (SELECT user_id, ts, value, "
        "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
        "<= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_session "
        "FROM events), numbered AS (SELECT *, SUM(new_session) OVER "
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
        "FROM marked) "
        "SELECT user_id, MIN(ts) AS s_start, "
        "MAX(ts) + INTERVAL '30 minutes' AS s_end, COUNT(*) AS n, "
        + dsum_sql("value", "total")
        + " FROM numbered GROUP BY user_id, sid ORDER BY user_id, s_start"
    ),
    description=(
        "Q38: session windows per user with a 30-minute inactivity gap "
        "(session_window — state merges adjacent sessions executor-side)."
    ),
    tags=("streaming",),
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
    )
    return (
        _sized_stream_to_memory(agg, "complete")
        .select(
            "user_id",
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n",
            "total",
        )
        .orderBy("user_id", "s_start")
    )


@query(
    "q38b_custom_stateful_sessions",
    oracle=(
        "WITH marked AS (SELECT user_id, ts, "
        "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
        "<= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_session "
        "FROM events), numbered AS (SELECT *, SUM(new_session) OVER "
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
        "FROM marked) "
        "SELECT user_id, CAST(sid AS BIGINT) AS session_no, MIN(ts) AS s_start, "
        "MAX(ts) + INTERVAL '30 minutes' AS s_end, COUNT(*) AS n "
        "FROM numbered GROUP BY user_id, sid ORDER BY user_id, session_no"
    ),
    description=(
        "Q38b: CUSTOM stateful streaming operator via applyInPandasWithState "
        "— per-user sessionization written as an arbitrary Python state "
        "machine instead of the session_window builtin (the extension seam "
        "for operators Spark has no builtin for). GroupState persists the "
        "running session counter across micro-batches; under the harness's "
        "single-batch AvailableNow run each group sees all its rows, so "
        "output is batch-equivalent and oracle-checkable. Arrow batches in/"
        "out; state is a tiny tuple per key (bounded by key cardinality)."
    ),
    tags=("streaming", "udf"),
)
def q38b(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def sessionize(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        base = state.get[0] if state.exists else 0  # sessions emitted so far
        out = {"user_id": [], "session_no": [], "s_start": [], "s_end": [], "n": []}
        start = prev = None
        n = 0
        sid = base

        def close(end_ts):
            out["user_id"].append(key[0])
            out["session_no"].append(sid)
            out["s_start"].append(start)
            out["s_end"].append(end_ts + pd.Timedelta(minutes=30))
            out["n"].append(n)

        for ts in rows["ts"]:
            if prev is not None and (ts - prev) <= pd.Timedelta(minutes=30):
                n += 1
            else:
                if prev is not None:
                    close(prev)
                sid += 1
                start, n = ts, 1
            prev = ts
        if prev is not None:
            close(prev)
        state.update((sid,))
        yield pd.DataFrame(out)

    s = _events_stream(spark, sf_dir).select("user_id", "ts")
    out = s.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id long, session_no long, s_start timestamp, "
        "s_end timestamp, n long",
        stateStructType="sessions_emitted long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _sized_stream_to_memory(out, "append").orderBy("user_id", "session_no")


@query(
    "q39_watermark_append",
    oracle=(
        # append mode emits a window iff w_end <= final watermark
        # (= max(ts) - 1h; single AvailableNow batch → nothing dropped
        # mid-stream, verified emission rule incl. the <= boundary)
        "SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, "
        "time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS w_end, "
        "COUNT(*) AS n FROM events "
        "GROUP BY w_start, w_end "
        "HAVING w_end <= (SELECT max(ts) - INTERVAL '1 hour' FROM events) "
        "ORDER BY w_start"
    ),
    description=(
        "Q39: watermarked tumbling count in APPEND mode — only windows the "
        "watermark has closed are emitted; open tail windows stay in state. "
        "This is the production shape (bounded state at 100 TB: eviction "
        "follows the watermark)."
    ),
    tags=("streaming",),
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        _sized_stream_to_memory(agg, "append")
        .select(*_win_cols(), "n")
        .orderBy("w_start")
    )


@query(
    "q40_stream_dedup",
    oracle=(
        "SELECT event_id, user_id, event_type, ts, value FROM events "
        "ORDER BY event_id"
    ),
    description=(
        "Q40: stateful streaming dedup — the source is unioned with itself "
        "(every event delivered twice, the PubSub redelivery case) and "
        "dropDuplicatesWithinWatermark collapses it back to exactly-once. "
        "WithinWatermark bounds state by event time (plain dropDuplicates "
        "retains every key forever — unusable at 100 TB)."
    ),
    tags=("streaming",),
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    doubled = s.unionAll(s)  # at-least-once delivery, simulated
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _sized_stream_to_memory(deduped, "append").orderBy("event_id")


@query(
    "q41_exactly_once_file_ingest",
    oracle=(
        "SELECT event_id, user_id, event_type, ts, value FROM events "
        "ORDER BY event_id"
    ),
    description=(
        "Q41: checkpointed file-source ingest run in two arrival phases "
        "plus an idempotent re-run — each file processed exactly once "
        "across runs (checkpoint log = the reference's _imported table, "
        "commit = ack, without the mark-after-launch hazard). The sink "
        "content equals the source exactly: no loss, no duplication."
    ),
    tags=("streaming",),
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_path("q41_ingest", sf_dir)
    cols = ["event_id", "user_id", "event_type", "ts", "value"]

    def _build(p: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(*cols)
        # phase 1: half the files arrive
        ev.where(F.col("event_id") % 2 == 0).repartition(4).write.parquet(
            f"{p}/src", mode="append"
        )
        schema = spark.read.parquet(f"{p}/src").schema
        ingest_stream(spark, f"{p}/src", schema, f"{p}/sink", f"{p}/ckpt")
        # phase 2: the rest arrive; same checkpoint → only new files load
        ev.where(F.col("event_id") % 2 == 1).repartition(4).write.parquet(
            f"{p}/src", mode="append"
        )
        ingest_stream(spark, f"{p}/src", schema, f"{p}/sink", f"{p}/ckpt")
        # re-run with nothing new: MUST be a no-op (exactly-once across runs)
        ingest_stream(spark, f"{p}/src", schema, f"{p}/sink", f"{p}/ckpt")

    materialize_once(base, _build)
    return spark.read.parquet(f"{base}/sink").select(*cols).orderBy("event_id")


@query(
    "q41b_stream_static_enrich",
    oracle=(
        "SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value "
        "FROM events e JOIN customer c ON c.c_custkey = e.user_id "
        "ORDER BY e.event_id"
    ),
    description=(
        "Q41b: stream-static enrichment join — the streaming events feed "
        "joined to the static customer dimension (broadcast: the dim is "
        "small by contract, so each micro-batch enriches map-side with "
        "ZERO stream-side shuffle). The static side is re-read per "
        "micro-batch, so dimension updates are picked up between batches "
        "— the streaming analog of the reference's lookup-enrich step."
    ),
    tags=("streaming",),
)
def q41b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import tables

    cust = F.broadcast(
        tables(spark, sf_dir)["customer"]
        .select("c_custkey", "c_name", "c_mktsegment")
    )
    s = _events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    joined = s.join(cust, s["user_id"] == cust["c_custkey"]).select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value"
    )
    return _sized_stream_to_memory(joined, "append").orderBy("event_id")


@query(
    "q41c_stream_stream_join",
    oracle=(
        "SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, "
        "c.ts AS click_ts, p.ts AS purchase_ts "
        "FROM events c JOIN events p ON p.user_id = c.user_id "
        "AND c.event_type = 'click' AND p.event_type = 'purchase' "
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour' "
        "ORDER BY click_id, purchase_id"
    ),
    description=(
        "Q41c: stream-stream interval join — clicks matched to purchases "
        "by the same user within the following hour, both sides "
        "watermarked so the join state store evicts rows once they can no "
        "longer match (the event-time range condition is what BOUNDS "
        "state at 100 TB; an unconstrained stream-stream join retains "
        "everything forever). Inner join in append mode; under the "
        "single AvailableNow batch every qualifying pair is emitted, so "
        "the batch SQL oracle is exact."
    ),
    tags=("streaming",),
)
def q41c(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _events_stream(spark, sf_dir)
    clicks = (
        s.where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        s.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    return _sized_stream_to_memory(joined, "append").orderBy("click_id", "purchase_id")


__all__ = ["q36", "q37", "q38", "q39", "q40", "q41", "q41b", "q41c"]
