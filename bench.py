"""Benchmark: run every declared query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
the run's full record, on stdout.

  {"metric": "declared_query_set_wall_time", "value": <total sec>,
   "unit": "sec", "queries": {"<registry name>": sec, ...},
   "query_stats": {"<registry name>": {"gc_s", "heap_mb", "leaked_rdds"}},
   "calib_s": [pre, post], "ann_recall_at_5": {...}, "ivf_scan": {...},
   "sf": ..., "errors": {...}}

``errors`` is present only when a query failed; nothing is truncated.
Advisory ``METRIC`` lines go to stderr.

Each query is timed end-to-end (plan + FULL execution). Materialization is
a noop-format write — unlike ``count()``, this executes every projection,
scalar expression, and sort in the plan (Catalyst prunes those out of a
count) without paying driver-collect memory. A warm-up pass amortizes
JVM/codegen startup; scratch inputs (q02/q05) are materialized before the
timed loop. A failing query records an error entry instead of killing the
run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bucket_to_bigquery_spark.queries import all_queries  # noqa: E402
from bucket_to_bigquery_spark.session import get_spark  # noqa: E402


def _execute(df) -> None:
    """Force full plan execution without driver materialization."""
    df.write.format("noop").mode("overwrite").save()


def _sweep_state(spark) -> int:
    """Drop ALL leaked cached state between queries; return #RDDs dropped.

    ``spark.catalog.clearCache()`` only empties the SQL cache (``persist``
    on DataFrames). localCheckpoint blocks — q46c truncates its iterative
    lineage with them — live on raw RDDs the cache manager never tracks,
    so they accumulated across the 85-query session and inflated late-run
    queries 2-3× (r4: q47b/q48c/q48d) with block/GC pressure. Sweep both.
    """
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = jmap.size()
    for rdd in jmap.values():
        rdd.unpersist(False)
    return n


def _warm_python_workers(spark) -> None:
    """Fork + warm the full python-worker pool before the timed loop.

    The first pandas-UDF/mapInPandas execution in a session pays worker
    fork + pandas/pyarrow import PER WORKER (32 on local[32]), and the
    first applyInPandasWithState additionally sets up the Arrow state
    channel — ~5 s measured (q38b: 7.5 s first run vs 1.9 s re-run in
    the same session). That is session init, not query cost; the bench
    times each query's only run, so without this warm-up the init lands
    on whichever python-path query runs first. A 32-partition trivial
    frame touches every worker; q38b itself runs in the warm-up prefix
    above to cover the state-channel path.
    """
    import pandas as pd  # noqa: F401

    def _id(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 2 * n, 1, n).mapInPandas(_id, "id long")
    df.write.format("noop").mode("overwrite").save()


def _calibrate(spark) -> float:
    """Fixed-cost CPU-only probe: 64M-row integer fold across 32 partitions
    — no IO, no shuffle, no Python workers, plan identical every run. Its
    wall time is a REGIME MARKER: the sandbox host has two scheduling
    regimes (same-code full-bench totals swing ~151 ↔ 267 s at sf0.1,
    BASELINE.md), and a per-record probe lets a reader attribute an
    inflated sample to the host rather than to code from the record alone
    (VERDICT r7 #4). Run before and after the timed loop; a stall that
    hits only one probe is the rotating-stall signature."""
    t0 = time.perf_counter()
    _execute(spark.range(0, 1 << 26, 1, 32).selectExpr(
        "sum(id * 2654435761 % 1000003) AS s"
    ))
    return round(time.perf_counter() - t0, 3)


def _ann_recall_at_5(spark, registry, sf_dir) -> dict[str, float]:
    """recall@5 of each ANN variant vs the exact top-k (q48), computed
    OUTSIDE the timed loop on the same sf. The ANN rows are rows-only in
    the correctness gate by declared design (RNG/k-means bucketing is not
    SQL-expressible), so this puts their quality numbers — pytest pins
    floors per variant — into the driver-visible bench record itself
    (VERDICT r7 #7). Emitted as METRIC lines and in the stdout JSON."""
    try:
        exact = registry["q48_cosine_topk"].builder(spark, sf_dir).collect()
    except Exception as e:  # noqa: BLE001 — recall is advisory; never kill bench
        print(f"METRIC-WARN b2bqs.ann_recall_at_5 q48_cosine_topk "
              f"{type(e).__name__}: {e}", file=sys.stderr)
        return {}
    try:
        exact_sets: dict = {}
        for r in exact:
            exact_sets.setdefault(r["q_id"], set()).add(r["n_id"])
        total = sum(len(s) for s in exact_sets.values())
    except Exception as e:  # noqa: BLE001 — e.g. an output-schema drift
        print(f"METRIC-WARN b2bqs.ann_recall_at_5 exact-set "
              f"{type(e).__name__}: {e}", file=sys.stderr)
        return {}
    out: dict[str, float] = {}
    for name in ("q48b_ann_lsh_topk", "q48c_ivf_topk",
                 "q48d_ivf_prebuilt", "q48e_signgrid_ann"):
        # a failed variant must leave an ATTRIBUTABLE warning, not a
        # silently-absent recall row (ADVICE r8 #1): the record exists to
        # surface exactly this kind of truncation
        try:
            rows = registry[name].builder(spark, sf_dir).collect()
            got: dict = {}
            for r in rows:
                got.setdefault(r["q_id"], set()).add(r["n_id"])
            hits = sum(len(exact_sets[q] & got.get(q, set()))
                       for q in exact_sets)
            code = name.split("_", 1)[0]
            out[code] = round(hits / total, 4) if total else 0.0
            print(f"METRIC b2bqs.ann_recall_at_5.{code} {out[code]}",
                  file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            print(f"METRIC-WARN b2bqs.ann_recall_at_5 {name} "
                  f"{type(e).__name__}: {e}", file=sys.stderr)
    return out


def _ivf_scan_stats(spark, sf_dir) -> dict:
    """Measured scan cost of the calibrated IVF operating point, recorded
    NEXT TO the recall (VERDICT r8 #2: recall alone can be bought by
    probing everything — the record carries the (recall, cost) pair).
    Mirrors the q48c/q48d inputs (embeddings corpus, vec_id < 10 query
    set, k = 5); same seeded resolution ⇒ the params here are exactly the
    ones the timed queries ran."""
    try:
        from pyspark.sql import functions as F

        from bucket_to_bigquery_spark.operators.similarity import ivf_scan_stats
        from bucket_to_bigquery_spark.queries.registry import tables

        emb = tables(spark, sf_dir)["embeddings"]
        st = ivf_scan_stats(emb, emb.where(F.col("vec_id") < 10), k=5)
        print(f"METRIC b2bqs.ivf_scan_frac {st['scan_frac']} "
              f"(n_lists={st['n_lists']} n_probe={st['n_probe']} "
              f"candidates={st['candidates']}/{st['exhaustive']})",
              file=sys.stderr)
        return st
    except Exception as e:  # noqa: BLE001 — advisory; never kill bench
        print(f"METRIC-WARN b2bqs.ivf_scan_frac {type(e).__name__}: {e}",
              file=sys.stderr)
        return {}


def _jvm_stats(spark) -> tuple[int, int]:
    """(cumulative GC ms, current heap-used bytes) of the local JVM —
    driver == executors on local[*], so this covers the whole engine."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return gc_ms, heap


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    spark = get_spark("b2bqs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    registry = all_queries()

    # Warm-up: JVM JIT, codegen cache, filesystem metadata, and every
    # one-time builder-side setup (scratch CSV exports, the q04 ingest
    # warehouse, the streaming source dir, q41's checkpointed sink, q48d's
    # offline-built IVF index) — all
    # materialize-once artifacts, so the timed loop measures query
    # execution, not fixture construction. q36/q41 run one extra stream
    # here purely to materialize the shared source.
    errors: dict[str, str] = {}
    for name in sorted(registry):
        # q55* joined the prefix in r9: its one-time historical shingle
        # index is a scratch-materialized offline artifact like q48d's
        # IVF index (25.5 s cold vs ~3 s warm at sf0.1 — the timed row
        # must measure the per-batch probe, which is the operation).
        # q108 joined in r13: its one-time socket envelope feed is a
        # scratch-materialized offline artifact (the timed row must
        # measure the published-sink read, which is the operation).
        # q46 and q47c build the dedup and embedding corpora: fixtures
        # are rebuilt after every package edit, so they belong here too.
        if name.startswith(
            ("q02", "q04", "q05", "q36", "q38b", "q41", "q46", "q47c",
             "q48d", "q55", "q108")
        ):
            try:
                registry[name].builder(spark, sf_dir)
            except Exception as e:  # noqa: BLE001
                errors[name] = f"warmup: {type(e).__name__}: {e}"
    try:
        _execute(registry["q17_tpch_q1_shape"].builder(spark, sf_dir))
    except Exception as e:  # noqa: BLE001
        errors["_warmup"] = f"{type(e).__name__}: {e}"
    _warm_python_workers(spark)

    _sweep_state(spark)  # warm-up leftovers out of the timed window
    calib_pre = _calibrate(spark)
    timings: dict[str, float] = {}
    stats: dict[str, dict[str, float]] = {}
    for name in sorted(registry):
        q = registry[name]
        gc0, _ = _jvm_stats(spark)
        t0 = time.perf_counter()
        try:
            _execute(q.builder(spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
        # Queries that persist()/localCheckpoint intermediates cannot
        # unpersist them — they return lazy frames. Sweep between queries
        # (outside the timed window) and record what leaked: a nonzero
        # ``leaked_rdds`` fingers the query that would otherwise degrade
        # the rest of the session.
        gc1, heap = _jvm_stats(spark)
        leaked = _sweep_state(spark)
        stats[name] = {
            "gc_s": round((gc1 - gc0) / 1000.0, 3),
            "heap_mb": round(heap / 1048576.0, 1),
            "leaked_rdds": leaked,
        }

    calib_post = _calibrate(spark)
    recall = _ann_recall_at_5(spark, registry, sf_dir)
    ivf = _ivf_scan_stats(spark, sf_dir)

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    record = {
        "metric": "declared_query_set_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_stats": stats,
        "calib_s": [calib_pre, calib_post],
        "ann_recall_at_5": recall,
        "ivf_scan": ivf,
        "sf": sf_val,
    }
    if errors:
        record["errors"] = errors
    print(json.dumps(record))


if __name__ == "__main__":
    main()
