"""Structured Streaming surface (SURVEY §2.C Q36-Q41).

The reference's event machinery is PubSub pull + ack + an ``_imported``
audit table (BucketToBigQuery.js:99-121, 376-397). Spark's file-source
streaming replaces all of it: source discovery is the file log, ack is the
checkpoint commit, and exactly-once is a property of the sink+checkpoint
pair instead of a mark-after-launch insert (SURVEY §3 step 8 hazard).

Declared-query harness: each Q36-Q41 runs a real streaming query under
``Trigger.AvailableNow`` so the result is finite and batch-equivalent —
that's what lets the DuckDB oracle hash-check streaming semantics. Results
land in a memory sink (driver-side, fine at test scale — the harness seam,
not the production path; production writes go through ``foreachBatch`` to
partitioned parquet as ``ingest_stream`` does).

Scale notes (100 TB):
- ``complete`` output mode is used ONLY where the oracle needs every
  window; production windowed aggs run append+watermark so state is
  evicted as the watermark passes (bounded state).
- ``dropDuplicatesWithinWatermark`` bounds dedup state by event time;
  plain ``dropDuplicates`` on a stream retains every key forever.
- File-source ingest parallelism comes from file splits; the memory sink
  is never part of a production topology.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_CKPT_ROOT = "/tmp/b2bqs/ckpt"


def run_stream_to_memory(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Run a (finite, AvailableNow) streaming DataFrame into a fresh memory
    sink and return the materialized result as a batch DataFrame."""
    spark = sdf.sparkSession
    name = f"b2bqs_mem_{uuid.uuid4().hex[:12]}"
    ckpt = f"{_CKPT_ROOT}/{name}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)  # finite run; state not reused
    return spark.table(name)


def ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    sink_dir: str,
    checkpoint_dir: str,
) -> None:
    """Q41: exactly-once file ingest — the reference's pull→load→audit→ack
    loop collapsed into readStream + checkpointed sink.

    Each source file is processed exactly once ACROSS RUNS: the checkpoint
    file log is the ``_imported`` table and the commit is the ack, with the
    ordering hazard gone (a crashed run re-processes uncommitted files; a
    committed file is never re-read). Rerunning after new files arrive
    picks up only the new files.
    """
    sdf = spark.readStream.schema(schema).parquet(source_dir)
    q = (
        sdf.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def idempotent_batch_writer(sink_dir: str):
    """A retry-safe ``foreachBatch`` sink: each micro-batch overwrites its
    OWN batch-id-keyed directory, so a batch re-attempted after a crash
    between write and checkpoint commit replaces itself instead of
    appending a duplicate. This is the exactly-once recipe for sinks
    without a transaction log (the parquet file sink has its own; use
    this for arbitrary destinations). Verified under an injected
    mid-stream crash in tests/test_streaming_recovery.py."""

    def write(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{sink_dir}/batch={batch_id}")

    return write


__all__ = ["run_stream_to_memory", "ingest_stream", "idempotent_batch_writer"]
