"""CLI runner — the reference's local entry point, Spark-native.

``index_node.js`` wraps the Cloud Function for local runs with two seams:
``DRY_RUN`` (print planned load jobs instead of launching, index.js:79-80)
and ``context.mockEvents`` (inject file URIs, bypassing PubSub,
index.js:49-50). Same surface here::

    python -m bucket_to_bigquery_spark.run --manifest m.json --warehouse /data/wh
    python -m bucket_to_bigquery_spark.run --manifest m.json --warehouse /data/wh \
        --dry-run                         # plan only, JSON to stdout
    python -m bucket_to_bigquery_spark.run --manifest m.json --warehouse /data/wh \
        --mock-files /drop/a.csv /drop/b.csv   # event-driven candidates

``DRY_RUN=1`` in the environment is honored like the reference's env seam.

``setup`` validates an installation before any load runs — the analog of
the reference's ``setupBucket``/``ensureNotification`` provisioning step
(BucketToBigQuery.js:94-97, 66-78; its PubSub wiring has no Spark
counterpart, so validation here means: the ``--dry-run`` plan of every
task, plus checks that the manifest is well-formed, every source
pattern's base directory is reachable and the warehouse is writable)::

    python -m bucket_to_bigquery_spark.run setup --manifest m.json \
        --warehouse /data/wh        # exit 0 iff everything checks out

``compact`` rewrites each task's table so every DAY partition holds one
file — the periodic maintenance pass that counters append-per-batch
small-file accumulation (the readme's partition-pruning claim,
readme.md:38-41, assumes well-sized partitions)::

    python -m bucket_to_bigquery_spark.run compact --manifest m.json \
        --warehouse /data/wh

``pipeline`` runs the q54 training-data preprocessing composition
(exact dedup → quality gates → near-dup clustering → ExactSubstr scrub
→ sequence packing; beyond-reference surface, SURVEY §2.C Q54) over any
(id, text) parquet and writes the scrubbed corpus plus the packed-chunk
manifest. It runs q54's settings; the only options map the input's
columns (``--id-col``, ``--text-col``)::

    python -m bucket_to_bigquery_spark.run pipeline \
        --documents /data/docs.parquet --output /data/clean
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .ingest import BatchLoader, parse_manifest
from .session import get_spark


def _report_json(r) -> dict:
    return {
        "table": r.table,
        "jobId": r.job_id,
        "filesSeen": len(r.files_seen),
        "filesAlreadyImported": len(r.files_already_imported),
        "filesToLoad": r.files_loaded,
        "rowsLoaded": r.rows_loaded,
        "schema": [{"name": f.name, "type": f.type} for f in r.schema_fields],
        "expandedFields": [f.name for f in r.expanded_fields],
        "timePartitioningField": r.partition_field,
    }


def setup_main(argv: list[str]) -> int:
    """Validate manifest, source reachability and warehouse writability,
    and print each task's resolved schema/partition plan — the plan
    ``--dry-run`` computes (``BatchLoader.load_task(dry_run=True)``), so
    no data is written and nothing audited. Exit 0 iff every check
    passes.

    Paths may be schemed URIs — e.g. against an object store (connector
    jar + ``spark.hadoop.*`` credentials on the session; README
    "Remote object-store quickstart")::

        python -m bucket_to_bigquery_spark.run setup \\
            --manifest gs://cfg-bucket/manifest.json \\
            --warehouse gs://my-warehouse/wh

    Every check below routes through the per-URI FS seam (ingest/fs.py),
    so the probe write, glob, and header sniff exercise the exact I/O the
    load would. A plan that fails (headers incompatible with the table,
    or no matched file parses) becomes a ``problems`` entry."""
    from .ingest.fs import fs_for, glob_base
    from .ingest.loader import SchemaCompatError
    from .ingest.schema_registry import TYPE_MAP

    ap = argparse.ArgumentParser(prog="bucket_to_bigquery_spark.run setup")
    ap.add_argument("--manifest", required=True, help="manifest JSON file/string")
    ap.add_argument("--warehouse", required=True, help="warehouse root")
    args = ap.parse_args(argv)

    try:
        manifest = parse_manifest(args.manifest)
    except (OSError, ValueError, KeyError) as e:
        print(json.dumps({"ok": False,
                          "manifest": {"ok": False, "error": str(e)}}, indent=2))
        return 1

    spark = get_spark("b2bqs-setup")
    loader = BatchLoader(spark, args.warehouse)

    # warehouse writability: write/read-back/delete a probe object
    wh = {"path": args.warehouse, "ok": True}
    probe = f"{args.warehouse.rstrip('/')}/.b2bqs_setup_probe"
    try:
        fs = fs_for(spark, args.warehouse)
        fs.write_bytes(probe, b"ok")
        wh["ok"] = fs.read_bytes(probe) == b"ok"
        fs.delete(probe)
    except Exception as e:  # noqa: BLE001 — any FS failure is the finding
        wh.update(ok=False, error=f"{type(e).__name__}: {e}")

    tasks_out, ok = [], wh["ok"]
    if not manifest.tasks:
        ok = False
    for task in manifest.tasks:
        problems: list[str] = []
        if not task.table:
            problems.append("task has no table")
        if not task.dataset:
            problems.append("task has no dataset")
        for f in task.fields:
            if f.type.lower() not in TYPE_MAP:
                problems.append(
                    f"field {f.name!r}: unknown type {f.type!r} degrades to string"
                )
        for pattern in task.sources:
            base = glob_base(pattern)
            try:
                if not fs_for(spark, base).exists(base):
                    problems.append(f"source base not reachable: {base}")
            except Exception as e:  # noqa: BLE001
                problems.append(f"source {pattern}: {type(e).__name__}: {e}")
        n_files, plan = 0, {}
        if not problems:
            try:
                report = loader.load_task(task, dry_run=True)
            except SchemaCompatError as e:
                problems.append(str(e))
                n_files = len(loader.resolve_files(task))
            else:
                dry = _report_json(report)
                n_files = dry["filesSeen"]
                if dry["schema"]:
                    plan = {k: dry[k] for k in ("schema", "timePartitioningField")}
                elif n_files:
                    problems.append("no parseable file among matches")
        tasks_out.append({
            "table": task.qualified_table,
            "sources": task.sources,
            "filesMatched": n_files,
            **plan,
            "problems": problems,
            "ok": not problems,
        })
        ok = ok and not problems
    print(json.dumps(
        {"ok": ok, "warehouse": wh, "tasks": tasks_out}, indent=2
    ))
    return 0 if ok else 1


def compact_main(argv: list[str]) -> int:
    """Compact every manifest task's table (one file per DAY partition)."""
    ap = argparse.ArgumentParser(prog="bucket_to_bigquery_spark.run compact")
    ap.add_argument("--manifest", required=True, help="manifest JSON file/string")
    ap.add_argument("--warehouse", required=True, help="warehouse root")
    args = ap.parse_args(argv)
    manifest = parse_manifest(args.manifest)
    spark = get_spark("b2bqs-compact")
    loader = BatchLoader(spark, args.warehouse)
    out = []
    for task in manifest.tasks:
        try:
            n_files = loader.compact(task)
            out.append({"table": task.qualified_table, "files": n_files,
                        "ok": True})
        except Exception as e:  # noqa: BLE001 — report per-table, keep going
            out.append({"table": task.qualified_table, "ok": False,
                        "error": f"{type(e).__name__}: {e}"})
    ok = all(t["ok"] for t in out)
    print(json.dumps({"ok": ok, "tables": out}, indent=2))
    return 0 if ok else 1


def pipeline_main(argv: list[str]) -> int:
    """Run the q54 preprocessing composition over a documents parquet.

    Stages: exact dedup (min-id survivor per normalized text) → C4-style
    quality gates → n-gram-Jaccard near-dup pair mining +
    connected-components min-id cluster survivors (these three are
    ``preprocess``, the front end q54 runs) → ExactSubstr scrub (every
    cross-document duplicated token span excised; fully-scrubbed
    documents dropped) → sharded concat-and-chunk packing. Every stage
    runs at its operator's operating point, the one q54 runs
    (``operators.dedup`` n-gram Jaccard settings, ``operators.substring``
    ``SCRUB_WINDOW`` / ``SCRUB_MIN_DOC_FREQ``); there are no tuning
    flags, so the chunks equal q54's rows on q54's corpus.

    Writes ``<output>/corpus`` (id, text = the scrubbed NORMALIZED
    token stream, n_tokens) and ``<output>/chunks`` (the per-chunk
    training manifest: shard_id, chunk_id, n_docs, n_tokens, first/last
    doc id), then prints a JSON summary. The scrubbed frame is
    persisted across the two writes so the scrub runs once; every block
    is released before the summary. Outputs are written mode=overwrite
    for idempotent re-runs.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from .operators.substring import substring_scrub
    from .queries.pipeline_queries import pack_chunks_counts, preprocess

    ap = argparse.ArgumentParser(prog="bucket_to_bigquery_spark.run pipeline")
    ap.add_argument("--documents", required=True,
                    help="input parquet of documents")
    ap.add_argument("--output", required=True, help="output root directory")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    args = ap.parse_args(argv)

    spark = get_spark("b2bqs-pipeline")
    raw = spark.read.parquet(args.documents)
    # fail BEFORE the expensive dedup stages, not at the chunks write:
    # the packing tail shards on ``doc_id % 8``, so the id column must
    # be integral — every earlier stage (gates/dedup/CC/scrub) happily
    # accepts string ids and would burn the whole run first
    id_type = raw.schema[args.id_col].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long"):
        print(json.dumps({"error": (
            f"--id-col {args.id_col!r} has type {id_type}; the packing "
            "stage shards on doc_id % 8 and needs an integral id column"
        )}), file=sys.stderr)
        return 2
    docs = raw.select(
        F.col(args.id_col).alias("doc_id"),
        F.col(args.text_col).alias("text"),
    )
    n_input = docs.count()

    final, release = preprocess(docs)
    scrubbed = (
        substring_scrub(final, "doc_id", "text")
        .where(F.col("n_kept") > 0)
        .select(
            "doc_id",
            F.col("clean_text").alias("text"),
            F.col("n_kept").alias("n_tokens"),
        )
        .persist()
    )
    out = args.output.rstrip("/")
    try:
        scrubbed.write.mode("overwrite").parquet(f"{out}/corpus")
        pack_chunks_counts(
            scrubbed.select("doc_id", F.col("n_tokens").alias("n_tok"))
        ).write.mode("overwrite").parquet(f"{out}/chunks")
    finally:
        scrubbed.unpersist()
        release()
    stats = spark.read.parquet(f"{out}/chunks").agg(
        F.count(F.lit(1)).alias("chunks"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
    ).collect()[0]
    print(json.dumps({
        "ok": True,
        "documentsIn": n_input,
        "documentsOut": int(stats["docs"] or 0),
        "tokensOut": int(stats["tokens"] or 0),
        "chunks": int(stats["chunks"] or 0),
        "corpus": f"{out}/corpus",
        "chunksPath": f"{out}/chunks",
    }, indent=2))
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and argv[0] == "setup":
        return setup_main(argv[1:])
    if argv and argv[0] == "compact":
        return compact_main(argv[1:])
    if argv and argv[0] == "pipeline":
        return pipeline_main(argv[1:])
    ap = argparse.ArgumentParser(prog="bucket_to_bigquery_spark.run")
    ap.add_argument("--manifest", required=True, help="manifest JSON file/string")
    ap.add_argument("--warehouse", required=True, help="warehouse root directory")
    ap.add_argument("--dry-run", action="store_true",
                    help="plan loads and print them as JSON; write nothing")
    ap.add_argument("--mock-files", nargs="*", default=None,
                    help="candidate file URIs (bypasses event decode); "
                         "omit to glob the manifest sources")
    ap.add_argument("--mock-events", default=None,
                    help="JSON file or literal: a list of PubSub push "
                         "envelopes (the reference's context.mockEvents "
                         "seam) — decoded via OBJECT_FINALIZE filter, "
                         "base64 data parse, kind filter, selfLink dedup")
    ap.add_argument("--uri-format", default=None,
                    help="URI template for decoded events "
                         "(default gs://{bucket}/{name}); local test seam")
    args = ap.parse_args(argv)

    dry = args.dry_run or bool(os.environ.get("DRY_RUN"))
    manifest = parse_manifest(args.manifest)
    spark = get_spark("b2bqs-run")
    loader = BatchLoader(spark, args.warehouse)
    candidates = args.mock_files
    if args.mock_events is not None:
        from .ingest.events import GS_URI_FORMAT, events_to_candidates

        raw = args.mock_events
        if os.path.exists(raw):
            with open(raw) as fh:
                raw = fh.read()
        candidates = events_to_candidates(
            spark, json.loads(raw), uri_format=args.uri_format or GS_URI_FORMAT
        )
    reports = loader.run(manifest, candidate_files=candidates, dry_run=dry)
    print(json.dumps({"dryRun": dry, "tasks": [_report_json(r) for r in reports]},
                     indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
