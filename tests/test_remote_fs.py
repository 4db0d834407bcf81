"""Remote-filesystem seam: the loader pipeline over non-POSIX URIs.

The reference operates directly on object storage (ranged GCS reads,
GetStorageToBuffer.js:14-42; minimatch over bucket listings,
BucketToBigQuery.js:237-240). These tests run sniff/glob/load/audit/commit
end-to-end through the Hadoop ``FileSystem`` API using ``file://`` URIs —
the scheme every other Hadoop connector (gs://, s3a://, hdfs://) plugs
into without loader changes.
"""

from __future__ import annotations

import csv
import os
import shutil

import pytest

from bucket_to_bigquery_spark.ingest import BatchLoader, parse_manifest
from bucket_to_bigquery_spark.ingest.fs import (
    HadoopFS,
    LocalFS,
    fs_for,
    glob_base,
    has_scheme,
    rel_path,
    uri_parts,
)

BASE = "/tmp/b2bqs_test/remote_fs"


@pytest.fixture()
def workdir():
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE)
    yield BASE
    shutil.rmtree(BASE, ignore_errors=True)


def _write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def _manifest(workdir):
    return parse_manifest(
        {
            "project": "p",
            "tasks": [
                {
                    "sources": [f"file://{workdir}/src/**/*.csv"],
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


def test_scheme_detection_and_uri_parts():
    assert has_scheme("file:///x/y") and has_scheme("file:/x/y")
    assert has_scheme("gs://bucket/k") and has_scheme("s3a://b/k")
    assert not has_scheme("/x/y") and not has_scheme("rel/path")
    assert uri_parts("file:///x/y") == ("file", "", "/x/y")
    assert uri_parts("file:/x/y") == ("file", "", "/x/y")
    assert uri_parts("gs://bucket/a/b") == ("gs", "bucket", "/a/b")
    assert uri_parts("/x/y") == ("", "", "/x/y")
    assert rel_path("file:/w/data/p=1/f.parquet", "file:///w/data") == "p=1/f.parquet"


def test_fs_for_selects_by_scheme(spark):
    assert isinstance(fs_for(spark, "/tmp/x"), LocalFS)
    assert isinstance(fs_for(spark, "file:///tmp/x"), HadoopFS)
    assert isinstance(fs_for(spark, "gs://bucket/x"), HadoopFS)


def test_hadoop_glob_minimatch_parity(spark, workdir, monkeypatch):
    for rel in ["a/x.csv", "a/b/y.csv", "z.csv", "a/b/c/deep.csv", "a/not_csv.txt"]:
        _write_csv(f"{workdir}/g/{rel}", ["h"], [["1"]])
    fs = HadoopFS(spark)
    got = fs.glob(f"file://{workdir}/g/**/*.csv")
    paths = sorted(uri_parts(u)[2] for u in got)
    # ** spans zero or more whole segments — z.csv (zero) through deep.csv
    assert paths == [
        f"{workdir}/g/a/b/c/deep.csv",
        f"{workdir}/g/a/b/y.csv",
        f"{workdir}/g/a/x.csv",
        f"{workdir}/g/z.csv",
    ]
    # single-segment * stays within one directory level
    got_one = fs.glob(f"file://{workdir}/g/a/*.csv")
    assert [uri_parts(u)[2] for u in got_one] == [f"{workdir}/g/a/x.csv"]
    # non-glob pattern: exists → itself, missing → empty
    assert fs.glob(f"file://{workdir}/g/z.csv") == [f"file://{workdir}/g/z.csv"]
    assert fs.glob(f"file://{workdir}/g/nope.csv") == []
    # listing and `run setup` share one base: the deepest non-glob prefix,
    # `.` when the first segment already holds a glob character
    for pattern, base in [("*.csv", "."), ("x*/a.csv", "."),
                          ("data/*.csv", "data"), ("/x*.csv", "/"),
                          ("file:///d/*.csv", "file:///d")]:
        assert glob_base(pattern) == base, pattern
    monkeypatch.chdir(f"{workdir}/g")
    assert LocalFS().glob("*.csv") == ["z.csv"]
    assert LocalFS().glob("a*/*.csv") == ["a/x.csv"]
    assert LocalFS().glob("./*.csv") == ["./z.csv"]
    assert LocalFS().glob("a/*.csv") == ["a/x.csv"]


@pytest.mark.parametrize("pattern", ["[ab].csv", "*.csv", "**/*.csv"])
def test_batch_and_event_globs_resolve_the_same_files(spark, workdir, pattern):
    """Batch loads (LocalFS / HadoopFS listings) and event-driven loads
    (candidate URIs) resolve a source pattern with one matcher: classes
    match, and dot files and dot directories are skipped (minimatch's
    ``dot: false``)."""
    from bucket_to_bigquery_spark.ingest.manifest import Task

    root = f"{workdir}/g"
    rels = ["a.csv", "b.csv", "c.csv", ".h.csv", "sub/x.csv", "sub/.h.csv",
            ".hid/y.csv"]
    for rel in rels:
        _write_csv(f"{root}/{rel}", ["h"], [["1"]])
    expect = {
        "[ab].csv": {"a.csv", "b.csv"},
        "*.csv": {"a.csv", "b.csv", "c.csv"},
        "**/*.csv": {"a.csv", "b.csv", "c.csv", "sub/x.csv"},
    }[pattern]

    local = {rel_path(f, root) for f in LocalFS().glob(f"{root}/{pattern}")}
    hadoop = {rel_path(f, root)
              for f in HadoopFS(spark).glob(f"file://{root}/{pattern}")}
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    task = Task(sources=[f"{root}/{pattern}"], dataset="d", table="t")
    events = {rel_path(f, root) for f in loader.resolve_files(
        task, candidate_files=[f"{root}/{rel}" for rel in rels])}
    assert local == hadoop == events == expect


def test_hadoop_ranged_head_read(spark, workdir):
    p = f"{workdir}/big.csv"
    with open(p, "w") as fh:
        fh.write("h1,h2,h3\n")
        fh.write("x" * 100_000)
    fs = HadoopFS(spark)
    head = fs.read_head(f"file://{p}", 4000)
    assert len(head) == 4000  # bounded: a sniff never transfers the object
    assert head.startswith(b"h1,h2,h3\n")
    assert fs.read_head(f"file://{workdir}/missing.csv", 4000) is None


def test_golden_load_over_file_uris(spark, workdir):
    """The full batch pipeline — glob, sniff, schema expansion, anti-join
    idempotency, staged commit, audit — with every path a file:// URI."""
    _write_csv(
        f"{workdir}/src/2024/01/a.csv",
        ["timestamp", "utc_offset", "location", "ch1"],
        [["2024-01-01 00:00:00", "1.5", "syd", "10.0"],
         ["2024-01-02 00:00:00", "1.5", "syd", "11.5"]],
    )
    loader = BatchLoader(spark, f"file://{workdir}/warehouse", job_id_seed="seed")
    manifest = _manifest(workdir)
    task = manifest.tasks[0]

    (r1,) = loader.run(manifest)
    assert len(r1.files_loaded) == 1 and r1.rows_loaded == 2
    assert [f.name for f in r1.schema_fields] == [
        "timestamp", "utc_offset", "location", "ch1"
    ]
    assert r1.partition_field == "timestamp"
    df = loader.read_table(task)
    assert df.count() == 2
    assert dict(df.dtypes)["ch1"] == "double"
    # DAY partition layout landed under the URI warehouse
    parts = {
        p for p in os.listdir(f"{workdir}/warehouse/d.readings/data")
        if p.startswith("__pdate=")
    }
    assert parts == {"__pdate=2024-01-01", "__pdate=2024-01-02"}

    # idempotent re-run: the audit anti-join sees the URI-keyed files
    (r2,) = loader.run(manifest)
    assert r2.files_loaded == [] and r2.rows_loaded == 0
    assert len(r2.files_already_imported) == 1
    assert loader.read_table(task).count() == 2

    # wider file → schema expands, only the new file loads
    _write_csv(
        f"{workdir}/src/2024/02/c.csv",
        ["timestamp", "utc_offset", "location", "ch1", "ch2"],
        [["2024-02-01 00:00:00", "1.5", "syd", "12.0", "99.0"]],
    )
    (r3,) = loader.run(manifest)
    assert len(r3.files_loaded) == 1
    assert [f.name for f in r3.expanded_fields] == ["ch2"]
    df = loader.read_table(task)
    assert df.count() == 3
    assert df.where("ch2 IS NULL").count() == 2


def test_crash_retry_exactly_once_over_file_uris(spark, workdir):
    """The staged-commit retry guarantee must hold on the Hadoop FS path
    too: crash window between data publish and audit append → the retry
    replaces the batch's own batch-keyed files, never duplicating rows."""
    _write_csv(
        f"{workdir}/src/a.csv",
        ["timestamp", "utc_offset", "location"],
        [["2024-01-01 00:00:00", "1.5", "syd"],
         ["2024-01-02 00:00:00", "1.5", "syd"]],
    )
    loader = BatchLoader(spark, f"file://{workdir}/warehouse")
    manifest = _manifest(workdir)
    task = manifest.tasks[0]

    (r1,) = loader.run(manifest)
    assert r1.rows_loaded == 2 and loader.read_table(task).count() == 2

    # simulate: publish succeeded, audit append crashed before landing
    shutil.rmtree(f"{workdir}/warehouse/d.readings/_imported")

    (r2,) = loader.run(manifest)
    assert len(r2.files_loaded) == 1          # audit lost → file retried...
    assert loader.read_table(task).count() == 2  # ...rows NOT duplicated

    (r3,) = loader.run(manifest)              # audit restored → clean no-op
    assert r3.files_loaded == [] and loader.read_table(task).count() == 2


def test_event_candidates_match_across_uri_spellings(spark, workdir):
    # notification URIs may spell the scheme differently than the manifest
    # pattern (file:/x vs file:///x) — the match is on path components
    _write_csv(f"{workdir}/src/a.csv", ["timestamp", "utc_offset", "location"],
               [["2024-01-01 00:00:00", "1.0", "syd"]])
    loader = BatchLoader(spark, f"file://{workdir}/warehouse")
    task = _manifest(workdir).tasks[0]
    got = loader.resolve_files(
        task, [f"file:{workdir}/src/a.csv", f"file://{workdir}/other/b.csv"]
    )
    assert got == [f"file:{workdir}/src/a.csv"]


def test_hadoop_fs_over_real_network_scheme(spark, workdir):
    """A1 parity over a REAL network scheme, not file:// posix
    passthrough: Hadoop's read-only HttpFileSystem (hadoop-client-api
    3.4, HADOOP-14383) against a live local HTTP server. The ranged
    header sniff — the reference's [0, maxBytes] GET,
    commands/GetStorageToBuffer.js:14-42 — and the full-object buffer
    read run over an actual TCP socket through the SAME HadoopFS seam
    every other connector (gs://, s3a://, hdfs://) plugs into.

    Boundary notes (why this scheme, and only this far): http:// is the
    one networked FileSystem the stock pyspark jars ship that this
    sandbox can genuinely serve (no hadoop-aws/gcs-connector jars, no
    egress). HttpFileSystem is read-only and cannot list — so
    spark.read/glob over it is unsupported (Spark raises
    UNSUPPORTED_FILE_SYSTEM: listStatus) and its getFileStatus/exists is
    a stub that answers True even for missing objects; the loader e2e
    therefore still needs a write-capable scheme (SURVEY §8's documented
    environmental boundary, exercised over file:// above).
    """
    import functools
    import http.server
    import socketserver
    import threading

    from bucket_to_bigquery_spark.ingest.schema_registry import (
        SNIFF_BYTES,
        sniff_csv_headers,
    )

    _write_csv(
        f"{workdir}/www/readings.csv",
        ["timestamp", "utc_offset", "location"],
        [["2024-01-01 00:00:00", "1.5", "berlin"],
         ["2024-01-02 00:00:00", "2.0", "paris"]],
    )
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=f"{workdir}/www"
    )
    with socketserver.TCPServer(("127.0.0.1", 0), handler) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            fs = HadoopFS(spark)
            uri = f"http://127.0.0.1:{port}/readings.csv"
            # bounded ranged read: a 16-byte sniff returns exactly 16
            # bytes no matter the object size
            assert fs.read_head(uri, 16) == b"timestamp,utc_of"
            # the loader's actual sniff composition (loader.py sniff():
            # read_head(f, SNIFF_BYTES) -> sniff_csv_headers) over the
            # network
            assert sniff_csv_headers(fs.read_head(uri, SNIFF_BYTES)) == [
                "timestamp", "utc_offset", "location",
            ]
            # full-object buffer read (GetStorageToBuffer's whole-object
            # mode) matches the bytes served
            with open(f"{workdir}/www/readings.csv", "rb") as fh:
                assert fs.read_bytes(uri) == fh.read()
        finally:
            srv.shutdown()
