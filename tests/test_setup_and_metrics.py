"""`run.py setup` validation subcommand (reference setupBucket,
BucketToBigQuery.js:94-97) and the METRIC-style structured counters on
LoadReport (reference `METRIC B2BQ.*` log lines, index.js:16-98)."""

from __future__ import annotations

import csv
import json
import os
import shutil

import pytest

from bucket_to_bigquery_spark.ingest import BatchLoader, parse_manifest
from bucket_to_bigquery_spark.run import main as run_main

BASE = "/tmp/b2bqs_test/setup_cli"


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


def _manifest_file(workdir, sources=None) -> str:
    m = {
        "project": "p",
        "tasks": [
            {
                "sources": sources or [f"{workdir}/src/**/*.csv"],
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
    path = f"{workdir}/manifest.json"
    with open(path, "w") as fh:
        json.dump(m, fh)
    return path


def _setup(capsys, *argv) -> tuple[int, dict]:
    rc = run_main(["setup", *argv])
    return rc, json.loads(capsys.readouterr().out)


def test_setup_happy_path_prints_resolved_plan(spark, workdir, capsys):
    _write_csv(
        f"{workdir}/src/2024/a.csv",
        ["timestamp", "utc_offset", "location", "ch1"],
        [["2024-01-01 00:00:00", "1.5", "syd", "10.0"]],
    )
    rc, out = _setup(
        capsys, "--manifest", _manifest_file(workdir),
        "--warehouse", f"{workdir}/warehouse",
    )
    assert rc == 0 and out["ok"] is True
    assert out["warehouse"]["ok"] is True
    (t,) = out["tasks"]
    assert t["ok"] is True and t["filesMatched"] == 1
    # resolved plan: manifest prefix + sniffed float expansion + inferred
    # DAY partition field — printed, not executed
    assert [f["name"] for f in t["schema"]] == [
        "timestamp", "utc_offset", "location", "ch1"
    ]
    assert t["schema"][3]["type"] == "float"
    assert t["timePartitioningField"] == "timestamp"
    # dry validation: nothing was created
    assert not os.path.exists(f"{workdir}/warehouse/d.readings")


def test_setup_plan_is_the_dry_run_plan(spark, workdir, capsys):
    # one plan: setup prints what `--dry-run` computes, here for a table
    # that already exists (registry fields, an inferred DAY partition
    # field) and a batch that expands it
    _write_csv(f"{workdir}/src/a.csv", ["timestamp", "utc_offset", "location"],
               [["2024-01-01 00:00:00", "1.5", "syd"]])
    mpath, wh = _manifest_file(workdir), f"{workdir}/warehouse"
    assert run_main(["--manifest", mpath, "--warehouse", wh]) == 0
    _write_csv(f"{workdir}/src/b.csv",
               ["timestamp", "utc_offset", "location", "ch1", "ch2"],
               [["2024-01-02 00:00:00", "2.5", "nyc", "1.0", "2.0"]])
    capsys.readouterr()
    assert run_main(["--manifest", mpath, "--warehouse", wh, "--dry-run"]) == 0
    (dry,) = json.loads(capsys.readouterr().out)["tasks"]
    rc, out = _setup(capsys, "--manifest", mpath, "--warehouse", wh)
    assert rc == 0
    (t,) = out["tasks"]
    assert t["schema"] == dry["schema"]
    assert t["timePartitioningField"] == dry["timePartitioningField"]
    assert t["filesMatched"] == dry["filesSeen"] == 2
    assert [f["name"] for f in t["schema"]][-2:] == ["ch1", "ch2"]


def test_setup_flags_unparseable_matches(spark, workdir, capsys):
    os.makedirs(f"{workdir}/src")
    open(f"{workdir}/src/empty.csv", "w").close()  # no header line to sniff
    rc, out = _setup(capsys, "--manifest", _manifest_file(workdir),
                     "--warehouse", f"{workdir}/warehouse")
    assert rc == 1 and out["ok"] is False
    (t,) = out["tasks"]
    assert t["filesMatched"] == 1 and "schema" not in t
    assert t["problems"] == ["no parseable file among matches"]


def test_setup_flags_incompatible_headers(spark, workdir, capsys):
    _write_csv(f"{workdir}/src/x.csv", ["utc_offset", "timestamp"],
               [["1.0", "2024-01-01 00:00:00"]])
    rc, out = _setup(capsys, "--manifest", _manifest_file(workdir),
                     "--warehouse", f"{workdir}/warehouse")
    assert rc == 1 and out["ok"] is False
    (t,) = out["tasks"]
    assert t["filesMatched"] == 1 and "schema" not in t
    assert t["problems"] == [
        "The incoming fields are not a superset of the manifest fields: "
        "['utc_offset', 'timestamp'] vs ['timestamp', 'utc_offset', 'location']"
    ]


def test_setup_flags_unreachable_source_base(spark, workdir, capsys):
    rc, out = _setup(
        capsys,
        "--manifest", _manifest_file(workdir, [f"{workdir}/nope/**/*.csv"]),
        "--warehouse", f"{workdir}/warehouse",
    )
    assert rc == 1 and out["ok"] is False
    (t,) = out["tasks"]
    assert any("not reachable" in p for p in t["problems"])


def test_setup_rejects_malformed_manifest(spark, workdir, capsys):
    bad = f"{workdir}/bad.json"
    with open(bad, "w") as fh:
        fh.write('{"tasks": [{"sources": []}]}')  # task without "table"
    rc, out = _setup(capsys, "--manifest", bad, "--warehouse", workdir)
    assert rc == 1 and out["ok"] is False


def test_setup_validates_uri_warehouse(spark, workdir, capsys):
    _write_csv(
        f"{workdir}/src/a.csv",
        ["timestamp", "utc_offset", "location"],
        [["2024-01-01 00:00:00", "1.0", "syd"]],
    )
    rc, out = _setup(
        capsys, "--manifest", _manifest_file(workdir),
        "--warehouse", f"file://{workdir}/warehouse",
    )
    assert rc == 0 and out["warehouse"]["ok"] is True


def test_compact_subcommand_one_file_per_partition(spark, workdir, capsys):
    # two loads → two files per touched DAY partition; compact → one each
    _write_csv(
        f"{workdir}/src/a.csv",
        ["timestamp", "utc_offset", "location", "ch1"],
        [["2024-01-01 00:00:00", "1.5", "syd", "1.0"]],
    )
    mpath = _manifest_file(workdir)
    wh = f"{workdir}/warehouse"
    assert run_main(["--manifest", mpath, "--warehouse", wh]) == 0
    _write_csv(
        f"{workdir}/src/b.csv",
        ["timestamp", "utc_offset", "location", "ch1"],
        [["2024-01-01 06:00:00", "1.5", "syd", "2.0"]],
    )
    assert run_main(["--manifest", mpath, "--warehouse", wh]) == 0
    capsys.readouterr()
    import glob as g
    part = f"{wh}/d.readings/data/__pdate=2024-01-01"
    assert len(g.glob(f"{part}/*.parquet")) == 2

    rc = run_main(["compact", "--manifest", mpath, "--warehouse", wh])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["ok"] is True
    assert out["tables"][0]["files"] == 1
    assert len(g.glob(f"{part}/*.parquet")) == 1
    # rows intact after the rewrite
    from bucket_to_bigquery_spark.ingest import BatchLoader as BL

    assert BL(spark, wh).read_table(
        parse_manifest(mpath).tasks[0]).count() == 2


def test_load_report_metrics_counters(spark, workdir):
    _write_csv(
        f"{workdir}/src/a.csv",
        ["timestamp", "utc_offset", "location", "ch1"],
        [["2024-01-01 00:00:00", "1.5", "syd", "10.0"],
         ["2024-01-02 00:00:00", "1.5", "syd", "11.5"]],
    )
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    manifest = parse_manifest(
        {"project": "p", "tasks": [{
            "sources": [f"{workdir}/src/**/*.csv"], "dataset": "d",
            "table": "readings",
            "fields": [{"name": "timestamp", "type": "timestamp"},
                       {"name": "utc_offset", "type": "float"},
                       {"name": "location", "type": "string"}],
        }]}
    )
    (r1,) = loader.run(manifest)
    m = r1.metrics
    assert m["files_seen"] == 1 and m["files_loaded"] == 1
    assert m["files_skipped_imported"] == 0
    assert m["rows_loaded"] == 2
    assert m["schema_expansions"] == 1  # ch1 appended as float
    # every stage checkpoint recorded, and they sum below the total
    stages = ["t_resolve_files", "t_sniff_headers", "t_resolve_schema",
              "t_audit_anti_join", "t_validate", "t_stage_write",
              "t_publish", "t_audit_append"]
    assert all(s in m and m[s] >= 0 for s in stages)
    assert m["t_total"] >= max(m[s] for s in stages)

    # idempotent re-run: skip counter increments, no load stages run
    (r2,) = loader.run(manifest)
    assert r2.metrics["files_skipped_imported"] == 1
    assert r2.metrics["files_loaded"] == 0
    assert "t_stage_write" not in r2.metrics


def test_metrics_emit_reference_shaped_lines(spark, workdir, caplog):
    import logging

    _write_csv(f"{workdir}/src/a.csv",
               ["timestamp", "utc_offset", "location"],
               [["2024-01-01 00:00:00", "1.0", "syd"]])
    loader = BatchLoader(spark, f"{workdir}/warehouse")
    manifest = parse_manifest(
        {"project": "p", "tasks": [{
            "sources": [f"{workdir}/src/**/*.csv"], "dataset": "d",
            "table": "readings",
            "fields": [{"name": "timestamp", "type": "timestamp"},
                       {"name": "utc_offset", "type": "float"},
                       {"name": "location", "type": "string"}]}]}
    )
    with caplog.at_level(logging.INFO, logger="b2bqs.metrics"):
        loader.run(manifest)
    lines = [rec.getMessage() for rec in caplog.records]
    assert any(line.startswith("METRIC b2bqs.d.readings.rows_loaded")
               for line in lines)
    assert any("t_total" in line for line in lines)
