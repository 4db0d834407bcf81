"""The stage-counter reader: job-group spans read the engine's work from
Spark's status store, and a disabled tracer leaves no trace."""

import os

import pytest

import stages


def _q46c(spark, tables):
    from bucket_to_bigquery_spark.queries import all_queries

    q = next(v for k, v in all_queries().items() if k.startswith("q46c_"))
    q.builder(spark, tables).write.format("noop").mode("overwrite").save()


def test_counters_match_status_tracker(spark, tables):
    tr = stages.Tracer(spark, True)
    with tr.span("q46c") as rec:
        _q46c(spark, tables)
    assert tr.spans == [rec]
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    sc = spark.sparkContext
    jobs = sc.statusTracker().getJobIdsForGroup(rec["group"])
    st = sc.statusTracker()
    stage_ids = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    # one attempt per stage: nothing fails in local mode
    assert rec["jobs"] == len(jobs) > 1  # the connected-components fixpoint
    assert rec["stages"] == len(stage_ids)
    assert rec["tasks"] == sum(st.getStageInfo(s).numTasks for s in stage_ids)
    assert rec["shuffle_read_bytes"] > 0 and rec["cpu_s"] > 0
    assert rec["skipped_stages"] < rec["stages"]


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SF01_DIR"),
                    reason="PERFBENCH_SF01_DIR (the sf0.1 parquet tables) unset")
def test_q46c_counts_at_sf01(spark):
    """The counts measured on the sf0.1 tables at 4 cores."""
    if spark.sparkContext.defaultParallelism != 4:
        pytest.skip("pinned at local[4]")
    tr = stages.Tracer(spark, True)
    with tr.span("q46c") as rec:
        _q46c(spark, os.environ["PERFBENCH_SF01_DIR"])
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (31, 54, 146)
    assert rec["shuffle_read_bytes"] == pytest.approx(174e6, rel=0.01)


def test_disabled_tracer_sets_no_group(spark):
    tr = stages.Tracer(spark, False)
    with tr.span("noop") as rec:
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
        spark.range(10).write.format("noop").mode("overwrite").save()
    assert tr.spans == [] and set(rec) == {"layer", "wall_s", "proc_cpu_s"}
    assert rec["proc_cpu_s"] >= 0
