"""bench.py's stdout is the run's one full record.

``bench.main()`` runs in-process on two real registry entries: stdout
must be exactly one JSON line, keyed by full registry names, with no
truncation artefacts (short codes, decisecond rows, family subtotals)
and no calib-normalized copy.
"""

from __future__ import annotations

import json

import bench
from bucket_to_bigquery_spark.queries import all_queries

NAMES = ("q01_parquet_scan", "q17_tpch_q1_shape")


def test_main_prints_one_full_record(spark, sf_dir, monkeypatch, capsys):
    every = all_queries()
    registry = {name: every[name] for name in NAMES}
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    # no q48 entry: the recall probe warns on stderr and records {}
    monkeypatch.setattr(bench, "all_queries", lambda: registry)

    bench.main()

    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    record = json.loads(lines[0])
    assert record["metric"] == "declared_query_set_wall_time"
    assert record["unit"] == "sec"
    assert set(record["queries"]) == set(NAMES)
    assert set(record["query_stats"]) == set(NAMES)
    assert record["value"] == round(sum(record["queries"].values()), 4)
    assert record["ann_recall_at_5"] == {}
    assert len(record["calib_s"]) == 2
    assert "errors" not in record, record.get("errors")
    for name in NAMES:
        assert set(record["query_stats"][name]) == {
            "gc_s", "jit_s", "heap_mb", "leaked_rdds"}
        assert record["query_stats"][name]["jit_s"] >= 0
    for gone in ("q_unit", "families", "queries_top", "queries_calibnorm",
                 "calib_mid"):
        assert gone not in record, gone
