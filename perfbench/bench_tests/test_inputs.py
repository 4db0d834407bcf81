"""The generators are deterministic in the seed, and the seed moves what
the workloads say it moves: the batch split, the expansion month and the
analytics order."""

import base64
import json

import inputs
import workloads
from workloads import SCALE


def _plan(root, seed):
    """The plan and its envelopes, decoded, with the drop directory they
    name replaced by a placeholder so plans under two roots compare."""
    plan = inputs.ingest_plan(str(root), seed, SCALE)
    envs = [[{**e["message"]["attributes"],
              **json.loads(base64.b64decode(e["message"]["data"]))}
             for e in batch] for batch in plan.batches]
    return plan, json.dumps(envs).replace(plan.drop_root, "<drop>")


def test_same_seed_same_inputs(tmp_path):
    a, envs_a = _plan(tmp_path / "a", 3)
    b, envs_b = _plan(tmp_path / "b", 3)
    assert inputs.digest(a.drop_root) == inputs.digest(b.drop_root)
    assert envs_a == envs_b
    assert [len(f) for f in a.batch_files] == [len(f) for f in b.batch_files]
    docs_a = inputs.write_tables(str(tmp_path / "a"), SCALE) + "/documents.parquet"
    docs_b = inputs.write_tables(str(tmp_path / "b"), SCALE) + "/documents.parquet"
    assert inputs.digest(docs_a) == inputs.digest(docs_b)
    assert workloads.op_order(3) == workloads.op_order(3)


def test_other_seed_changes_split_expansion_and_order(tmp_path):
    a, envs_a = _plan(tmp_path, 1)
    b, envs_b = _plan(tmp_path, 2)
    assert [len(f) for f in a.batch_files] != [len(f) for f in b.batch_files]
    assert a.expansion_file != b.expansion_file
    assert envs_a != envs_b
    assert workloads.op_order(1) != workloads.op_order(2)


def test_plan_shape(tmp_path):
    """113 files in 48 batches of 1-5; every block of four batches but
    the last holds three lineitem batches of ``sum(LI_SPLIT)`` files and
    one events batch; the expansion month lies in
    the first block; each batch carries one duplicate, one delete and one
    non-object envelope."""
    plan, _ = _plan(tmp_path, 5)
    files = [f for fs in plan.batch_files for f in fs]
    assert len(plan.batches) == inputs.N_BATCHES == 48
    assert len(files) == len(set(files)) == 113
    assert all(1 <= len(fs) <= 5 for fs in plan.batch_files)
    k = inputs.BLOCK_BATCHES
    for b in range(0, inputs.N_BATCHES - k, k):
        block = plan.batch_files[b:b + k]
        tables = [{f.split("/")[-3] for f in fs} for fs in block]
        assert sorted(map(sorted, tables)) == \
            [["events"], ["lineitem"], ["lineitem"], ["lineitem"]]
        assert sum(len(fs) for fs in block) - len(block[
            tables.index({"events"})]) == sum(inputs.LI_SPLIT)
    assert plan.expansion_file in [f for fs in plan.batch_files[:4] for f in fs]
    for envs, fs in zip(plan.batches, plan.batch_files):
        kinds = [json.loads(base64.b64decode(
            e["message"]["data"]))["kind"] for e in envs]
        events = [e["message"]["attributes"]["eventType"] for e in envs]
        assert len(envs) == len(fs) + 3
        assert kinds.count("storage#object") == len(fs) + 2
        assert events.count("OBJECT_DELETE") == 1


def test_work_per_run_depends_on_seconds_only():
    assert workloads.passes("ingest", 10) == workloads.passes("analytics", 10) == 1
    assert workloads.passes("ingest", 30) == 3
    assert workloads.passes("analytics", 1) == 1
