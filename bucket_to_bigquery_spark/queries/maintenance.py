"""q04e: warehouse compaction as a declared query.

The operation: ``BatchLoader.compact`` — the small-files remediation job
every append-per-batch warehouse needs (each batch leaves one file per
DAY partition; at daily cadence over years, file listing + parquet footer
reads come to dominate every scan). The entry materializes a TWO-batch
ingest (so partitions genuinely hold multiple files), compacts, and
returns the table content — the oracle asserts the one property that
makes compaction safe to run anywhere: **content is invariant** (bit-equal
rows before/after). The file-count reduction itself is asserted at build
time and re-checked by pytest via the stats the build records.

Scratch isolation: this materialization uses its OWN scratch key
(``q04e_compact``), never the shared ``q04_ingest`` tree — compact
rewrites the data directory in place, and q04/q04b/q04c/q04d rely on
that tree staying bit-stable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest import BatchLoader, parse_manifest
from ..ingest.fs import fs_for
from ..scratch import materialize_once, scratch_path
from .registry import query, tables

# Same audit-clock seam as the q04 family (ingest_queries._Q04_IMPORT_TS):
# deterministic `_imported` stamps.
_Q04E_IMPORT_TS = "2000-01-01 00:00:00"

# Manifest field spec: the q04 positional-CSV schema (ingest_queries
# declares the same shape for the shared warehouse; restated here so
# this module does not import a sibling query module).
_FIELDS = [
    {"name": "o_orderkey", "type": "integer"},
    {"name": "o_custkey", "type": "integer"},
    {"name": "o_orderstatus", "type": "string"},
    {"name": "o_totalprice", "type": "float"},
    {"name": "o_orderdate", "type": "timestamp"},
    {"name": "o_orderpriority", "type": "string"},
]

_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

# Half a year of the DAY-partitioned key: enough partitions to make the
# small-files problem real, cheap enough to rebuild per sf_dir.
_LO, _HI = "1995-01-01", "1995-07-01"


def _manifest(base: str) -> dict:
    return {
        "project": "b2bqs",
        "jobIdPrefix": "q04e__",
        "tasks": [
            {
                "sources": [f"{base}/src/**/*.csv"],
                "dataset": "wh",
                "table": "orders_cmp",
                "fields": _FIELDS,
                "timePartitioningField": "o_orderdate",
            }
        ],
    }


def _compacted_loader(spark: SparkSession, sf_dir: str) -> tuple[BatchLoader, object]:
    """Materialize once per sf_dir: ingest the scoped orders in TWO
    disjoint batches (each load leaves one file per touched DAY partition,
    so dates hit by both batches hold 2 files), then compact. The build
    records pre/post parquet file counts in ``compact_stats.json`` inside
    the published tree — asserting the reduction here AND letting pytest
    re-check it against the published artifact."""
    base = scratch_path("q04e_compact", sf_dir)
    task = parse_manifest(_manifest(base)).tasks[0]

    def _build(p: str) -> None:
        manifest = parse_manifest(_manifest(p))
        t = tables(spark, sf_dir)
        scoped = t["orders"].where(
            (F.col("o_orderdate") >= F.lit(_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_HI).cast("timestamp"))
        )
        loader = BatchLoader(spark, f"{p}/warehouse", import_ts=_Q04E_IMPORT_TS)
        for i, batch in enumerate(
            (scoped.where(F.col("o_orderkey") % 2 == 0),
             scoped.where(F.col("o_orderkey") % 2 == 1))
        ):
            batch.repartition(2).write.mode("overwrite").option(
                "header", True
            ).csv(f"{p}/src/b{i}")
            r, = loader.run(parse_manifest(_manifest(p)))
            assert r.rows_loaded > 0, f"batch {i} loaded nothing"
        tk = manifest.tasks[0]
        data = loader._data_path(tk)
        fs = fs_for(spark, data)
        pre = sum(1 for f in fs.list_recursive(data) if f.endswith(".parquet"))
        post = loader.compact(tk)
        assert post < pre, f"compaction did not shrink files: {pre} -> {post}"
        with open(os.path.join(p, "compact_stats.json"), "w") as fh:
            json.dump({"files_before": pre, "files_after": post}, fh)

    materialize_once(base, _build)
    return BatchLoader(spark, f"{base}/warehouse"), task


def compact_stats(spark: SparkSession, sf_dir: str) -> dict:
    """The build's recorded pre/post file counts (pytest assertion seam)."""
    _compacted_loader(spark, sf_dir)
    base = scratch_path("q04e_compact", sf_dir)
    with open(os.path.join(base, "compact_stats.json")) as fh:
        return json.load(fh)


_Q04E_ORACLE = (
    f"SELECT {_COLS} FROM orders "
    f"WHERE o_orderdate >= TIMESTAMP '{_LO}' AND o_orderdate < TIMESTAMP '{_HI}' "
    "ORDER BY o_orderkey"
)

_Q04E_DESCRIPTION = (
    "Q4e: warehouse compaction — a two-batch DAY-partitioned ingest "
    "(multi-file partitions by construction) rewritten by "
    "BatchLoader.compact to one file per partition via an atomic "
    "directory swap. The oracle proves the safety property (row content "
    "bit-invariant under compaction); the file-count reduction is "
    "asserted at build time and re-checked by pytest from the recorded "
    "stats."
)


@query("q04e_compaction", oracle=_Q04E_ORACLE, description=_Q04E_DESCRIPTION,
       tags=("ingest",))
def q04e(spark: SparkSession, sf_dir: str) -> DataFrame:
    loader, task = _compacted_loader(spark, sf_dir)
    return (
        loader.read_table(task)
        .select(*[c.strip() for c in _COLS.split(",")])
        .orderBy("o_orderkey")
    )


__all__ = ["q04e", "compact_stats"]
