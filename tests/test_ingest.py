"""Ingest-core tests: SURVEY §5.1 truth tables for the exact reference
semantics, plus §5.2 golden end-to-end idempotency/expansion runs."""

from __future__ import annotations

import base64
import csv
import json
import os
import shutil

import pytest

from bucket_to_bigquery_spark.ingest import (
    BatchLoader,
    Field,
    expand_schema,
    infer_partition_field,
    likely_timestamp,
    parse_manifest,
    same_or_super_set,
    sniff_csv_headers,
)
from bucket_to_bigquery_spark.ingest.schema_registry import SchemaCompatError

# ---------------------------------------------------------------------------
# A10 — sameOrSuperSet truth table (BucketToBigQuery.js:12-25)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    ("a", "b", "expected"),
    [
        (["x", "y"], ["x", "y"], True),            # equal
        (["x", "y", "z"], ["x", "y"], True),       # superset (columns grew)
        (["x", "y"], ["x", "y", "z"], True),       # FEWER columns also passes
        ([], ["x"], True),                         # empty is a prefix
        (["x", "y"], ["y", "x"], False),           # reorder
        (["x", "y"], ["x", "q"], False),           # rename
        (["x", "z", "y"], ["x", "y"], False),      # insert mid-list
        (["a"], ["b"], False),
    ],
)
def test_same_or_super_set(a, b, expected):
    assert same_or_super_set(a, b) is expected
    assert same_or_super_set(b, a) is expected  # direction-agnostic


# ---------------------------------------------------------------------------
# A12 — timestamp heuristic incl. single-separator quirk (js:27-30)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    ("name", "expected"),
    [
        ("timestamp", True),
        ("TIMESTAMP", True),
        ("Created_At", True),       # one separator removed → "createdat"
        ("createdAt", True),        # camelCase word-split then joined
        ("created at", True),
        ("date", True),
        ("Date-Time", True),        # "date time" → "datetime"
        ("time", True),
        ("datetime", True),
        ("created_at_utc", False),  # TWO separators; only first removed
        ("event_time", False),      # "event time" → "eventtime" not in set
        ("ts", False),
        ("o_orderdate", False),
        ("timestamp_col", False),
    ],
)
def test_likely_timestamp(name, expected):
    assert likely_timestamp(name) is expected


def test_infer_partition_field_first_five_only():
    fields = [Field(n, "float") for n in ["a", "b", "c", "d", "e", "timestamp"]]
    assert infer_partition_field(fields) is None  # 6th field: out of window
    fields = [Field("a", "float"), Field("Created_At", "timestamp"), Field("date", "date")]
    assert infer_partition_field(fields) == "Created_At"  # first match wins


# ---------------------------------------------------------------------------
# A4 — header sniff (js:124-140; quoted-comma fixed per SURVEY §1.3.2)
# ---------------------------------------------------------------------------


def test_sniff_basic_and_line_endings():
    assert sniff_csv_headers("a,b,c\n1,2,3") == ["a", "b", "c"]
    assert sniff_csv_headers("a,b\r\n1,2") == ["a", "b"]
    assert sniff_csv_headers("a,b\r1,2") == ["a", "b"]
    assert sniff_csv_headers(b"a,b\n1,2") == ["a", "b"]


def test_sniff_quotes():
    assert sniff_csv_headers('"a","b"\n') == ["a", "b"]       # ref-identical
    assert sniff_csv_headers('"a,b",c\n') == ["a,b", "c"]     # the fixed case


def test_sniff_empty():
    assert sniff_csv_headers("") is None
    assert sniff_csv_headers("\nrow") is None  # empty first line (js:136-137)


def test_sniff_respects_byte_cap():
    content = "h1,h2\n" + "x" * 10000
    assert sniff_csv_headers(content, max_bytes=4000) == ["h1", "h2"]


# ---------------------------------------------------------------------------
# A11 — schema expansion (js:286-321)
# ---------------------------------------------------------------------------


def test_expand_schema_appends_floats():
    existing = [Field("ts", "timestamp"), Field("v", "string")]
    out = expand_schema(existing, ["ts", "v", "ch1", "ch2"])
    assert out[:2] == existing
    assert out[2:] == [Field("ch1", "float"), Field("ch2", "float")]


def test_expand_schema_fewer_headers_ok():
    existing = [Field("ts", "timestamp"), Field("v", "string")]
    assert expand_schema(existing, ["ts"]) == existing  # jagged null-fill later


def test_expand_schema_rejects_rename_and_reorder():
    existing = [Field("ts", "timestamp"), Field("v", "string")]
    with pytest.raises(SchemaCompatError):
        expand_schema(existing, ["v", "ts"])
    with pytest.raises(SchemaCompatError):
        expand_schema(existing, ["ts", "other"])


# ---------------------------------------------------------------------------
# Manifest parsing (readme.md:53-86) incl. partition tri-state
# ---------------------------------------------------------------------------


def test_parse_manifest_tri_state():
    m = parse_manifest(
        json.dumps(
            {
                "project": "p",
                "jobIdPrefix": "pre__",
                "tasks": [
                    {"table": "t1", "sources": ["/a/**/*.csv"], "dataset": "d",
                     "timePartitioningField": "ts"},
                    {"table": "t2", "sources": [], "dataset": "d"},
                    {"table": "t3", "sources": [], "dataset": "d",
                     "timePartitioningField": None},
                    {"table": "t4", "sources": [], "dataset": "d",
                     "fields": [{"name": "timestamp", "type": "timestamp"},
                                {"name": "utc_offset", "type": "float"}]},
                ],
            }
        )
    )
    t1, t2, t3, t4 = m.tasks
    assert (t1.time_partitioning_field, t1.partition_field_given) == ("ts", True)
    assert (t2.time_partitioning_field, t2.partition_field_given) == (None, False)
    assert (t3.time_partitioning_field, t3.partition_field_given) == (None, True)
    assert t4.fields == [Field("timestamp", "timestamp"), Field("utc_offset", "float")]
    assert m.job_id_prefix == "pre__"


# ---------------------------------------------------------------------------
# §5.2 golden end-to-end: load → idempotent reload → expanding batch
# ---------------------------------------------------------------------------

BASE = "/tmp/b2bqs_test_ingest"


def _write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


@pytest.fixture()
def workdir():
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE)
    yield BASE
    shutil.rmtree(BASE, ignore_errors=True)


def _manifest(workdir):
    return parse_manifest(
        {
            "project": "test",
            "jobIdPrefix": "t__",
            "tasks": [
                {
                    "sources": [f"{workdir}/src/**/*.csv"],
                    "dataset": "d",
                    "table": "readings",
                    "fields": [
                        {"name": "timestamp", "type": "timestamp"},
                        {"name": "utc_offset", "type": "float"},
                        {"name": "location", "type": "string"},
                    ],
                }
            ],
        }
    )


def test_golden_load_idempotent_expand(spark, workdir):
    _write_csv(
        f"{workdir}/src/2024/01/a.csv",
        ["timestamp", "utc_offset", "location", "ch1"],
        [["2024-01-01 00:00:00", "1.5", "syd", "10.0"],
         ["2024-01-02 00:00:00", "1.5", "syd", "11.5"]],
    )
    _write_csv(
        f"{workdir}/src/2024/01/b.csv",
        ["timestamp", "utc_offset", "location", "ch1"],
        [["2024-01-02 12:00:00", "-4.0", "nyc", "3.25"]],
    )
    loader = BatchLoader(spark, f"{workdir}/warehouse", job_id_seed="seed")
    manifest = _manifest(workdir)
    task = manifest.tasks[0]

    # -- run 1: both files load; schema = manifest prefix + float ch1;
    #    partition field inferred from 'timestamp' (heuristic, in first 5)
    (r1,) = loader.run(manifest)
    assert len(r1.files_loaded) == 2 and r1.rows_loaded == 3
    assert [f.name for f in r1.schema_fields] == ["timestamp", "utc_offset", "location", "ch1"]
    assert r1.expanded_fields == [Field("ch1", "float")]
    assert r1.partition_field == "timestamp"
    assert r1.job_id.startswith("t__seed__")

    df = loader.read_table(task)
    assert df.count() == 3
    assert dict(df.dtypes)["ch1"] == "double" and dict(df.dtypes)["timestamp"] == "timestamp"
    # DAY partition directories exist (B7 substrate)
    parts = {p for p in os.listdir(f"{workdir}/warehouse/d.readings/data") if p.startswith("__pdate=")}
    assert parts == {"__pdate=2024-01-01", "__pdate=2024-01-02"}

    # -- run 2: no new files → pure no-op (idempotency via _imported)
    (r2,) = loader.run(manifest)
    assert r2.files_loaded == [] and r2.rows_loaded == 0
    assert sorted(r2.files_already_imported) == sorted(r1.files_loaded)
    # DISTINCT per candidate uri (the reference's per-uri semantics)
    f0 = r1.files_loaded[0]
    assert loader.files_already_imported(task, [f0, f0]) == [f0]
    assert loader.read_table(task).count() == 3
    assert loader.read_audit(task).count() == 2  # one audit row per file
    # the persisted audit layout stays what earlier loads wrote
    audit = spark.read.parquet(f"{workdir}/warehouse/d.readings/_imported")
    assert audit.schema.simpleString() == "struct<imported_at:timestamp,uri:string>"

    # -- run 3: a new WIDER file → only it loads; table schema expands with
    #    float ch2; earlier rows read back with ch2 = NULL
    _write_csv(
        f"{workdir}/src/2024/02/c.csv",
        ["timestamp", "utc_offset", "location", "ch1", "ch2"],
        [["2024-02-01 00:00:00", "1.5", "syd", "12.0", "99.0"]],
    )
    (r3,) = loader.run(manifest)
    assert len(r3.files_loaded) == 1 and r3.rows_loaded == 1
    assert r3.expanded_fields == [Field("ch2", "float")]
    df = loader.read_table(task)
    assert df.count() == 4
    assert df.where("ch2 IS NULL").count() == 3
    assert df.where("ch2 = 99.0").count() == 1


def test_import_ts_seam_fixes_audit_clock(spark, workdir):
    # A15 clock seam: with import_ts set, every audit row carries exactly
    # that stamp (deterministic — the q04b value-oracle substrate); the
    # default path stays wall clock (a fresh, second-truncated timestamp).
    _write_csv(
        f"{workdir}/src/2024/01/a.csv",
        ["timestamp", "utc_offset", "location"],
        [["2024-01-01 00:00:00", "1.5", "syd"]],
    )
    loader = BatchLoader(spark, f"{workdir}/warehouse",
                         import_ts="2000-01-01 00:00:00")
    manifest = _manifest(workdir)
    loader.run(manifest)
    rows = loader.read_audit(manifest.tasks[0]).collect()
    assert [str(r["imported_at"]) for r in rows] == ["2000-01-01 00:00:00"]
    # a malformed seam fails at CONSTRUCTION, not as NULL stamps at load
    with pytest.raises(ValueError):
        BatchLoader(spark, f"{workdir}/warehouse", import_ts="2000-13-99")


def test_jagged_short_rows_null_fill(spark, workdir):
    # allowJaggedRows parity: rows with FEWER cells than the schema load
    # with trailing NULLs (BucketToBigQuery.js:336)
    _write_csv(
        f"{workdir}/src/x.csv",
        ["timestamp", "utc_offset", "location", "ch1"],
        [],
    )
    with open(f"{workdir}/src/x.csv", "a") as fh:
        fh.write("2024-01-01 00:00:00,1.5,syd,7.0\n")
        fh.write("2024-01-02 00:00:00,1.5\n")  # jagged: location/ch1 missing
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    (r,) = loader.run(_manifest(workdir))
    assert r.rows_loaded == 2
    df = loader.read_table(_manifest(workdir).tasks[0])
    assert df.where("location IS NULL AND ch1 IS NULL").count() == 1


def test_max_bad_records_zero_fails_load(spark, workdir):
    # maxBadRecords: 0 — an unparseable cell fails the load before
    # anything is published
    _write_csv(
        f"{workdir}/src/x.csv",
        ["timestamp", "utc_offset", "location"],
        [["2024-01-01 00:00:00", "not-a-float", "syd"]],
    )
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    with pytest.raises(ValueError, match="maxBadRecords"):
        loader.run(_manifest(workdir))
    assert not os.path.exists(f"{workdir}/warehouse/d.readings/data")
    # the staged write the counts were observed on is gone too
    staging = f"{workdir}/warehouse/d.readings/data.staging"
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    # and nothing was audited → the batch is retryable (the upgrade over
    # the reference's mark-after-launch hazard, SURVEY §3 step 8)
    assert not os.path.exists(f"{workdir}/warehouse/d.readings/_imported")

    _write_csv(
        f"{workdir}/src/x.csv",
        ["timestamp", "utc_offset", "location"],
        [["2024-01-01 00:00:00", "1.5", "syd"]],
    )
    (r,) = loader.run(_manifest(workdir))
    assert r.rows_loaded == 1 and r.files_loaded == [f"{workdir}/src/x.csv"]
    assert loader.read_table(_manifest(workdir).tasks[0]).count() == 1


def test_header_only_batch_loads_zero_rows(spark, workdir):
    # a 0-row batch into a DAY-partitioned table: AQE drops the empty
    # shuffle's plan, and with it the observed counts; the load still
    # validates, publishes nothing and audits the file
    _write_csv(f"{workdir}/src/h.csv",
               ["timestamp", "utc_offset", "location"], [])
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    (r,) = loader.run(_manifest(workdir))
    assert r.partition_field == "timestamp"
    assert r.rows_loaded == 0 and r.files_loaded == [f"{workdir}/src/h.csv"]
    assert loader.read_audit(_manifest(workdir).tasks[0]).count() == 1


def test_first_load_scans_its_csv_once(spark, workdir):
    # the maxBadRecords counts are observed during the staging write, so
    # a load reads its CSV bytes once (a separate validate pass read ~2x)
    from perfbench.stages import group_counters

    rows = [[f"2024-01-{d:02d} 00:00:00", f"{d}.5", f"loc{d}"]
            for d in range(1, 29)]
    for name in ("a", "b"):
        _write_csv(f"{workdir}/src/{name}.csv",
                   ["timestamp", "utc_offset", "location"], rows * 40)
    csv_bytes = sum(os.path.getsize(f"{workdir}/src/{n}.csv") for n in "ab")
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    sc = spark.sparkContext
    sc.setJobGroup("test-first-load-scan", "first load")
    try:
        (r,) = loader.run(_manifest(workdir))
    finally:
        sc._jsc.clearJobGroup()
    assert r.rows_loaded == 2 * 28 * 40
    read = group_counters(sc, "test-first-load-scan")["input_bytes"]
    assert csv_bytes <= read <= 1.1 * csv_bytes


def test_incompatible_headers_raise(spark, workdir):
    _write_csv(f"{workdir}/src/x.csv", ["wrong", "order"], [["1", "2"]])
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    with pytest.raises(SchemaCompatError):
        loader.run(_manifest(workdir))


def test_event_driven_candidate_matching(spark, workdir):
    # minimatch parity (js:237-240): injected candidate URIs are matched
    # against task sources; non-matching files are ignored
    _write_csv(f"{workdir}/src/a.csv", ["timestamp", "utc_offset", "location"],
               [["2024-01-01 00:00:00", "0.0", "syd"]])
    _write_csv(f"{workdir}/other/b.csv", ["timestamp", "utc_offset", "location"],
               [["2024-01-01 00:00:00", "0.0", "nyc"]])
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    (r,) = loader.run(
        _manifest(workdir),
        candidate_files=[f"{workdir}/src/a.csv", f"{workdir}/other/b.csv"],
    )
    assert r.files_loaded == [f"{workdir}/src/a.csv"]


def test_widest_headers_first_vs_last(spark, workdir):
    # widest-schema selection: first and last parseable files sniffed, the
    # LONGER header list wins (js:256-282)
    _write_csv(f"{workdir}/src/a.csv", ["timestamp", "utc_offset", "location"],
               [["2024-01-01 00:00:00", "0.0", "syd"]])
    _write_csv(f"{workdir}/src/z.csv",
               ["timestamp", "utc_offset", "location", "ch1"],
               [["2024-01-02 00:00:00", "0.0", "nyc", "1.0"]])
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    (r,) = loader.run(_manifest(workdir))
    assert [f.name for f in r.schema_fields] == ["timestamp", "utc_offset", "location", "ch1"]
    # file a's rows null-fill ch1
    assert loader.read_table(_manifest(workdir).tasks[0]).where("ch1 IS NULL").count() == 1


def test_dry_run_plans_without_writing(spark, workdir):
    _write_csv(f"{workdir}/src/a.csv",
               ["timestamp", "utc_offset", "location", "ch1"],
               [["2024-01-01 00:00:00", "1.5", "syd", "10.0"]])
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    (r,) = loader.run(_manifest(workdir), dry_run=True)
    # full plan computed...
    assert r.files_loaded == [f"{workdir}/src/a.csv"]
    assert [f.name for f in r.schema_fields] == ["timestamp", "utc_offset", "location", "ch1"]
    assert r.partition_field == "timestamp"
    # ...but nothing written, nothing audited — a later real run loads it all
    assert not os.path.exists(f"{workdir}/warehouse/d.readings")
    (r2,) = loader.run(_manifest(workdir))
    assert r2.rows_loaded == 1


def test_compact_merges_partition_files(spark, workdir):
    # three batches append three files into the same DAY partition;
    # compact() rewrites to one file per partition, content unchanged
    for batch in range(3):
        _write_csv(
            f"{workdir}/src/b{batch}.csv",
            ["timestamp", "utc_offset", "location"],
            [[f"2024-01-01 0{batch}:00:00", "1.5", f"loc{batch}"],
             [f"2024-01-02 0{batch}:00:00", "1.5", f"loc{batch}"]],
        )
        loader = BatchLoader(spark, f"{workdir}/warehouse")
        loader.run(_manifest(workdir))
    task = _manifest(workdir).tasks[0]
    import glob as g
    data = f"{workdir}/warehouse/d.readings/data"
    before = loader.read_table(task).orderBy("timestamp", "location").collect()
    files_before = len(g.glob(f"{data}/**/*.parquet", recursive=True))
    assert files_before >= 6  # ≥3 files in each of the 2 partitions
    n_after = loader.compact(task)
    assert n_after == 2  # one file per DAY partition
    after = loader.read_table(task).orderBy("timestamp", "location").collect()
    assert after == before


def test_compact_keeps_expanded_columns_unpartitioned(spark, workdir):
    # an unpartitioned table whose last batch added a float column: most
    # files lack it, so a footer-sampled read would drop it. compact()
    # reads with the registry schema and keeps every value.
    manifest = parse_manifest({"project": "p", "tasks": [{
        "sources": [f"{workdir}/src/*.csv"], "dataset": "d", "table": "wide",
        "fields": [{"name": "k", "type": "string"},
                   {"name": "x", "type": "float"}],
        "timePartitioningField": None,
    }]})
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    for batch in range(6):
        _write_csv(f"{workdir}/src/b{batch}.csv", ["k", "x"],
                   [[f"narrow{batch}", f"{batch}.5"]])
        loader.run(manifest)
    _write_csv(f"{workdir}/src/wide.csv", ["k", "x", "y"],
               [["wide", "2.0", "42.0"]])
    (r,) = loader.run(manifest)
    assert r.partition_field is None and [f.name for f in r.expanded_fields] == ["y"]
    # precondition: the footer Spark samples is a narrow batch's
    data = f"{workdir}/warehouse/d.wide/data"
    assert spark.read.parquet(data).columns == ["k", "x"]
    task = manifest.tasks[0]
    before = sorted(map(tuple, loader.read_table(task).collect()))
    assert ("wide", 2.0, 42.0) in before and len(before) == 7
    loader.compact(task)
    assert sorted(map(tuple, loader.read_table(task).collect())) == before


def test_load_retry_after_crash_is_exactly_once(spark, workdir):
    """Crash window between data publish and audit append: the retry must
    replace the batch's own staged output (deterministic batch-keyed file
    names), not append duplicate rows — batch loads are exactly-once on
    retry, not at-least-once."""
    _write_csv(
        f"{workdir}/src/2024/01/a.csv",
        ["timestamp", "utc_offset", "location"],
        [["2024-01-01 00:00:00", "1.5", "syd"],
         ["2024-01-02 00:00:00", "1.5", "syd"]],
    )
    _write_csv(
        f"{workdir}/src/2024/01/b.csv",
        ["timestamp", "utc_offset", "location"],
        [["2024-01-02 12:00:00", "-4.0", "nyc"]],
    )
    loader = BatchLoader(spark, f"{workdir}/warehouse", job_id_seed="seed")
    manifest = _manifest(workdir)
    task = manifest.tasks[0]

    (r1,) = loader.run(manifest)
    assert r1.rows_loaded == 3 and loader.read_table(task).count() == 3

    # simulate: publish succeeded, audit append crashed before landing
    shutil.rmtree(f"{workdir}/warehouse/d.readings/_imported")

    (r2,) = loader.run(manifest)
    assert len(r2.files_loaded) == 2  # audit lost -> files retried...
    assert loader.read_table(task).count() == 3  # ...but rows NOT duplicated

    (r3,) = loader.run(manifest)  # audit restored -> clean no-op
    assert r3.files_loaded == [] and loader.read_table(task).count() == 3


# ---------------------------------------------------------------------------
# A7: event-envelope decode (getTriggeredTaskInfos front half, js:208-246)
# ---------------------------------------------------------------------------


def _envelope(event_type, kind, self_link, bucket, name):
    data = base64.b64encode(json.dumps(
        {"kind": kind, "selfLink": self_link, "bucket": bucket, "name": name}
    ).encode()).decode()
    return {"message": {"attributes": {"eventType": event_type}, "data": data}}


_EDGE_EVENTS = [
    _envelope("OBJECT_FINALIZE", "storage#object", "sl1", "bkt", "drop/a.csv"),
    _envelope("OBJECT_FINALIZE", "storage#object", "sl1", "bkt", "drop/a.csv"),  # redelivered: dedup by selfLink
    _envelope("OBJECT_DELETE", "storage#object", "sl2", "bkt", "drop/b.csv"),    # wrong eventType
    _envelope("OBJECT_FINALIZE", "storage#notobject", "sl3", "bkt", "drop/c.csv"),  # wrong kind
    {"message": {"attributes": {"eventType": "OBJECT_FINALIZE"}, "data": None}},  # no payload -> fails kind filter
    _envelope("OBJECT_FINALIZE", "storage#object", "sl4", "bkt2", "x/y.csv"),
]


def test_event_envelope_decode_semantics(spark):
    from bucket_to_bigquery_spark.ingest import events_to_candidates

    assert events_to_candidates(spark, _EDGE_EVENTS) == [
        "gs://bkt/drop/a.csv", "gs://bkt2/x/y.csv"
    ]
    assert events_to_candidates(spark, []) == []


def _dataframe_decode(spark, lines, **kw):
    from bucket_to_bigquery_spark.ingest import finalize_object_uris

    df = spark.createDataFrame([(ln,) for ln in lines], ["envelope"])
    return sorted(r["uri"] for r in finalize_object_uris(df, **kw).collect())


def test_event_decode_drops_objects_without_bucket_or_name(spark):
    # a finalized storage#object with no bucket or no name names no file:
    # both decoders drop it, alone or mixed with good notifications
    from bucket_to_bigquery_spark.ingest import events_to_candidates

    def partial(self_link, **obj):
        data = base64.b64encode(json.dumps(
            {"kind": "storage#object", "selfLink": self_link, **obj}
        ).encode()).decode()
        return {"message": {"attributes": {"eventType": "OBJECT_FINALIZE"},
                            "data": data}}

    no_bucket = partial("sl8", name="drop/z.csv")
    no_name = partial("sl9", bucket="bkt")
    assert events_to_candidates(spark, [no_bucket]) == []
    mixed = [no_bucket, *_EDGE_EVENTS, no_name]
    want = ["gs://bkt/drop/a.csv", "gs://bkt2/x/y.csv"]
    assert events_to_candidates(spark, mixed) == want
    assert _dataframe_decode(spark, [json.dumps(e) for e in mixed]) == want
    assert events_to_candidates(spark, mixed, uri_format="/{name}") == [
        "/drop/a.csv", "/x/y.csv"]


def test_driver_decode_matches_dataframe_decode(spark):
    # the two decoders share no code; they must agree on every corpus
    from bucket_to_bigquery_spark.ingest import events_to_candidates
    from bucket_to_bigquery_spark.queries.notify import _envelope_lines

    lines = _envelope_lines(list(range(0, 1300, 20)))
    events = []
    for ln in lines:
        try:
            events.append(json.loads(ln))
        except ValueError:  # the corpus's non-JSON line never reaches a list
            pass
    assert events_to_candidates(spark, events) == _dataframe_decode(spark, lines)
    edge = [json.dumps(e) for e in _EDGE_EVENTS]
    for fmt in ("gs://{bucket}/{name}", "/{name}"):
        assert events_to_candidates(spark, _EDGE_EVENTS, uri_format=fmt) \
            == _dataframe_decode(spark, edge, uri_format=fmt)


def test_driver_decode_runs_no_spark_job(spark):
    from bucket_to_bigquery_spark.ingest import events_to_candidates

    sc = spark.sparkContext
    sc.setJobGroup("test-driver-decode", "driver-side envelope decode")
    try:
        assert events_to_candidates(spark, _EDGE_EVENTS)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("test-driver-decode")) == []


def test_cli_mock_events_dry_run(spark, workdir, capsys):
    from bucket_to_bigquery_spark.run import main

    _write_csv(f"{workdir}/src/a.csv",
               ["timestamp", "utc_offset", "location"],
               [["2024-01-01 00:00:00", "1.5", "syd"]])
    _write_csv(f"{workdir}/src/b.csv",
               ["timestamp", "utc_offset", "location"],
               [["2024-01-02 00:00:00", "1.5", "nyc"]])
    # only a.csv was notified; b.csv exists but no event arrived
    events = [_envelope("OBJECT_FINALIZE", "storage#object", "s1",
                        "unused", f"{workdir.lstrip('/')}/src/a.csv")]
    events_path = f"{workdir}/events.json"
    with open(events_path, "w") as fh:
        json.dump(events, fh)
    manifest = {
        "project": "test",
        "tasks": [{
            "sources": [f"{workdir}/src/**/*.csv"],
            "dataset": "d", "table": "readings",
            "fields": [{"name": "timestamp", "type": "timestamp"},
                       {"name": "utc_offset", "type": "float"},
                       {"name": "location", "type": "string"}],
        }],
    }
    rc = main(["--manifest", json.dumps(manifest),
               "--warehouse", f"{workdir}/warehouse",
               "--dry-run", "--mock-events", events_path,
               "--uri-format", "/{name}"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["dryRun"] is True
    (t,) = out["tasks"]
    assert t["filesToLoad"] == [f"{workdir}/src/a.csv"]
    assert not os.path.isdir(f"{workdir}/warehouse/d.readings")  # dry: nothing written
