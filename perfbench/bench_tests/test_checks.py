"""Each workload's verification catches one injected wrong output: the
run's error rate rises above 0. The correct outputs come from the same
oracles the workloads compare against."""

import duckdb

import checks
import inputs
import workloads
from workloads import SCALE


def _rate(*problem_lists):
    out = checks.Outcome()
    for i, problems in enumerate(problem_lists):
        out.record(f"op {i}", problems)
    return out.error_rate


def test_ingest_read_set_row_dropped(tmp_path):
    plan = inputs.ingest_plan(str(tmp_path), 1, SCALE)
    files = [f for fs in plan.batch_files[:inputs.BLOCK_BATCHES] for f in fs]
    want = workloads._read_set_oracle(duckdb.connect(), files)
    assert _rate(*(checks.same_rows(list(want[k]), want[k]) for k in want)) == 0
    got = {k: list(v) for k, v in want.items()}
    got["per_event_type"].pop()
    assert _rate(*(checks.same_rows(got[k], want[k]) for k in want)) > 0


def test_ingest_totals_wrong():
    want = {"rows_loaded": 10, "imported_uris": 4, "schema_expansions": 1,
            "redelivered_files_loaded": 0}
    assert _rate(checks.check_ingest_totals(dict(want), want)) == 0
    assert _rate(checks.check_ingest_totals(
        {**want, "redelivered_files_loaded": 1}, want)) > 0
    assert _rate(checks.check_batch(5, 1, 6, 1)) > 0


def test_pipeline_chunk_count_changed():
    summary = dict(checks.PIPELINE_EXPECTED)
    corpus = {"docs": summary["documentsOut"], "tokens": summary["tokensOut"]}
    assert _rate(checks.check_pipeline(summary, corpus, dict(corpus))) == 0
    wrong = {**checks.PIPELINE_EXPECTED,
             "chunks": checks.PIPELINE_EXPECTED["chunks"] + 1}
    assert _rate(checks.check_pipeline(summary, corpus, dict(corpus),
                                       want=wrong)) > 0
    assert _rate(checks.check_pipeline(summary, corpus,
                                       {**corpus, "tokens": 1})) > 0


def test_query_result_perturbed(spark, tables):
    from pyspark.sql import functions as F

    from bucket_to_bigquery_spark.queries import all_queries
    from tests import oracle

    name, q = next((k, v) for k, v in all_queries().items()
                   if k.startswith("q17_"))
    con = oracle.duck_connection(tables)
    df = q.builder(spark, tables)
    problems, pairs = workloads._check_query(spark, con, tables, name, q, df)
    assert _rate(problems) == 0 and pairs == []
    col = next(f.name for f in df.schema.fields
               if f.dataType.typeName() == "double")
    bad = df.withColumn(col, F.when(F.monotonically_increasing_id() == 0,
                                    F.col(col) + 1.0).otherwise(F.col(col)))
    problems, _ = workloads._check_query(spark, con, tables, name, q, bad)
    assert _rate(problems) > 0


def test_recall_below_floor():
    exact = [(q, n) for q in range(10) for n in range(5)]
    assert _rate(checks.check_recall({"q48c": checks.recall_at_5(exact, exact)})) == 0
    assert _rate(checks.check_recall(
        {"q48c": checks.recall_at_5(exact, exact[:40])})) > 0
