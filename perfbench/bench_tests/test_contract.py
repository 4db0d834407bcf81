"""BENCHMARK.json declares exactly the metrics and workloads run.py
reports, with the units it prints."""

import json
import os

import run

SPEC = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_declared_metrics_match_reported():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run._unit(m["name"]) for m in spec["per_layer"])
    assert len(spec["per_layer"]) <= 128
