"""End-to-end test of `run.py pipeline` — the q54 preprocessing
composition as a user-facing CLI over an arbitrary (id, text) parquet.

The fixture makes every stage non-trivial:
- a too-short doc fails the quality gates;
- an exact copy is removed by exact dedup (min-id survives);
- a near-dup pair (one trailing token changed; shingle jaccard ~0.78
  >= 0.6) clusters together and keeps only its min id;
- a subset doc (its whole 8-token stream also occurs inside a longer
  surviving doc, but at jaccard 6/18 = 0.33 < 0.6 so BOTH survive
  clustering) is fully covered by duplicated spans — scrubbed to empty
  and dropped from the output;
- the longer doc keeps exactly its non-shared tail.
"""

from __future__ import annotations

import json
import shutil

import pytest

from bucket_to_bigquery_spark.run import main as run_main

RUN8 = "the data model train and of xx yy"          # 8 tokens, stopwords
TAIL12 = "aa bb cc dd ee ff gg hh ii jj kk ll"      # 12 distinct tokens
C1 = "alpha beta gamma the delta epsilon zeta eta theta iota"
C2 = "alpha beta gamma the delta epsilon zeta eta theta omega"

DOCS = [
    (1, RUN8 + " " + TAIL12),  # survives; RUN8 prefix scrubbed -> TAIL12
    (2, RUN8),                 # subset of doc 1: scrubbed to empty, dropped
    (3, "hi"),                 # fails the gates (< 5 tokens)
    (20, C1),                  # near-dup cluster survivor (min id)
    (21, C2),                  # clustered with 20, dropped
    (101, RUN8 + " " + TAIL12),  # exact copy of doc 1, dropped
]


@pytest.fixture()
def workdir(tmp_path, spark):
    src = tmp_path / "docs.parquet"
    spark.createDataFrame(DOCS, ["doc_id", "text"]).coalesce(1) \
        .write.parquet(str(src))
    yield tmp_path
    shutil.rmtree(tmp_path, ignore_errors=True)


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_pipeline_cli_end_to_end(spark, workdir, capsys):
    out = workdir / "out"
    # The context holds persisted RDDs weakly, so blocks an earlier test
    # leaked could vanish at any JVM GC; holding their py4j proxies pins
    # them for the length of the call.
    pinned = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    before = _persistent_rdd_ids(spark)
    rc = run_main([
        "pipeline",
        "--documents", str(workdir / "docs.parquet"),
        "--output", str(out),
    ])
    assert rc == 0
    # every checkpoint and cache block the run made is released, and
    # nobody else's is
    assert _persistent_rdd_ids(spark) == before
    del pinned
    report = json.loads(capsys.readouterr().out)
    assert report["ok"] is True
    assert report["documentsIn"] == 6
    assert report["documentsOut"] == 2        # docs 1 and 20
    assert report["tokensOut"] == 12 + 10     # scrubbed doc 1 + intact C1

    corpus = {
        r["doc_id"]: (r["text"], r["n_tokens"])
        for r in spark.read.parquet(str(out / "corpus")).collect()
    }
    assert set(corpus) == {1, 20}
    assert corpus[1] == (TAIL12, 12)          # RUN8 prefix excised
    assert corpus[20] == (C1, 10)             # untouched, normalized

    chunks = spark.read.parquet(str(out / "chunks")).collect()
    assert sum(r["n_docs"] for r in chunks) == 2
    assert sum(r["n_tokens"] for r in chunks) == 22
    for r in chunks:  # doc -> shard assignment is doc_id mod 8
        assert r["first_doc"] % 8 == r["shard_id"]

    # idempotent re-run: overwrite, identical result
    rc = run_main([
        "pipeline",
        "--documents", str(workdir / "docs.parquet"),
        "--output", str(out),
    ])
    assert rc == 0
    report2 = json.loads(capsys.readouterr().out)
    assert report2 == report


def test_pipeline_cli_chunks_equal_q54(spark, sf_dir, tmp_path):
    # the CLI and q54 share one preprocessing definition: over q54's own
    # planted-duplicate corpus the CLI's chunk manifest is q54's result
    from bucket_to_bigquery_spark.queries import all_queries
    from bucket_to_bigquery_spark.queries.llm_queries import _dedup_corpus

    src = tmp_path / "corpus.parquet"
    _dedup_corpus(spark, sf_dir).write.parquet(str(src))
    out = tmp_path / "out"
    rc = run_main(["pipeline", "--documents", str(src), "--output", str(out)])
    assert rc == 0
    cols = ["shard_id", "chunk_id", "n_docs", "n_tokens", "first_doc", "last_doc"]
    got = spark.read.parquet(str(out / "chunks")).select(*cols).collect()
    want = (
        all_queries()["q54_full_pipeline"].builder(spark, sf_dir)
        .select(*cols).collect()
    )
    assert want
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_pipeline_cli_rejects_non_integral_id_upfront(spark, tmp_path, capsys):
    # the packing tail shards on doc_id % 8; a string id must fail fast
    # at argument validation, not hours later at the chunks write
    src = tmp_path / "docs_str.parquet"
    spark.createDataFrame(
        [("u1", "alpha beta gamma delta epsilon zeta")],
        ["uuid", "text"],
    ).write.parquet(str(src))
    rc = run_main([
        "pipeline",
        "--documents", str(src),
        "--output", str(tmp_path / "out"),
        "--id-col", "uuid",
    ])
    assert rc == 2
    err = json.loads(capsys.readouterr().err)
    assert "integral" in err["error"]
    assert not (tmp_path / "out").exists()  # nothing expensive ran
