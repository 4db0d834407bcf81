"""Q2c — self-describing-format scan surface beyond CSV/ORC: XML.

The reference's load path hands GCS objects to BigQuery load jobs whose
format is fixed per ingestion config (BucketToBigQuery.js:334-339 sets
the CSV options; SURVEY A14).  This engine keeps the same
explicit-schema, never-infer contract while speaking every format the
Spark runtime ships a native reader for; XML (built in since Spark 4)
is engine-added breadth beyond the reference's CSV/JSON load surface,
and the round-trip proves schema, timestamp and floating-point
fidelity end-to-end, exactly like q02 (CSV) and q02b (ORC) in
``relational.py``.

Representability boundary (dead-or-correct, pinned in
tests/test_formats.py): XML 1.0 cannot carry most C0 control
characters (0x00-0x08, 0x0B-0x1F except tab/newline/CR), and the
writer FAILS the job on such a value (Woodstox "Invalid white space
character" via TASK_WRITE_FAILED) rather than silently dropping or
substituting it — a corpus that needs those bytes belongs in
parquet/ORC, not XML. Tab, newline, DEL and all higher Unicode are
legal and round-trip exactly.

The scratch write goes through ``scratch.materialize_once`` — atomic
publish, keyed by source-content fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import scratch
from .registry import query, tables


@query(
    "q02c_xml_scan_roundtrip",
    oracle="SELECT * FROM orders ORDER BY o_orderkey",
    description=(
        "Q2c: XML sink + scan roundtrip — orders written as "
        "<order> row elements and read back with an explicit schema "
        "(never inferSchema, the reference's A14 load contract). "
        "Element text is escaped/unescaped by the writer/reader pair, so "
        "free-text comment columns survive; longs, doubles and "
        "timestamps round-trip bit-exact under the session timezone. "
        "Scale shape: the XML reader splits per part-file (rowTag "
        "framing), so a 1000-file feed scans with full parallelism; "
        "downstream it is a plain DataFrame scan with the same pruning "
        "treatment as any other source."
    ),
)
def q02c(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    path = scratch.materialize_once(
        scratch.scratch_path("q02c_xml", sf_dir),
        lambda p: (
            t["orders"].write.format("xml")
            .option("rowTag", "order")
            .mode("overwrite")
            .save(f"{p}/data")
        ),
    ) + "/data"
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        # the reader default trims element-text surrounding whitespace;
        # a lossless round-trip must keep it — the data IS the text
        .option("ignoreSurroundingSpaces", False)
        .schema(t["orders"].schema)
        .load(path)
        .orderBy("o_orderkey")
    )
