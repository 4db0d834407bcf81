"""Scale-trend probe for the heavy text-dedup operators.

Synthesizes S× corpora from the sf0.1 documents table and measures how
the expensive operators scale with corpus size at fixed parallelism —
the local stand-in for the "would this plan survive a 100× scale-up"
question (SURVEY §6). Linear wall-time growth (±parallelism
amortization) is the pass criterion; super-linear growth would indicate
pair fan-out or a driver-side bottleneck.

Replica construction keeps the probe FAIR: every token in replica k
gets the suffix ``_r<k>``, so replicas share ZERO shingles/windows —
each replica carries its own planted duplicate structure and nothing
else collides. Output size and candidate volume therefore scale
linearly in S by construction; what is being measured is whether the
EXECUTION does too. (Replicating verbatim would instead multiply every
duplicate group's size by S and grow pair output quadratically — a
different, legitimately quadratic answer.)

Usage::

    python tools/scale_probe.py [--scales 1,2,4,8] [--sf-dir DIR]

Prints one JSON line per (operator, S) with wall seconds and output
rows; scratch parquet under /tmp/b2bqs/scale_probe (wiped per run).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCRATCH = "/tmp/b2bqs/scale_probe"


def build_corpus(spark, sf_dir: str, s: int) -> str:
    """Write the S× replicated corpus to parquet; return its path."""
    from pyspark.sql import functions as F

    from bucket_to_bigquery_spark.catalog import load_tables

    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    parts = []
    for k in range(s):
        parts.append(
            d.select(
                (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
                # suffix every token: replicas share no shingles/windows
                F.regexp_replace("text", r"(\S+)", r"$1_r" + str(k)).alias("text"),
            )
        )
    out = f"{SCRATCH}/docs_x{s}"
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    u.write.mode("overwrite").parquet(out)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,2,4,8")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    scales = [int(x) for x in args.scales.split(",")]

    from pyspark.sql import functions as F

    from bucket_to_bigquery_spark.operators.dedup import (
        exact_dedup_groups,
        minhash_candidate_pairs as _minhash_pairs,
        ngram_jaccard_pairs,
        simhash_col as _simhash_col,
        tokens as _tokens,
    )
    from bucket_to_bigquery_spark.operators.substring import (
        repeated_substring_spans,
        substring_scrub_counts as _scrub_counts,
    )
    from bucket_to_bigquery_spark.session import get_spark

    spark = get_spark()
    shutil.rmtree(SCRATCH, ignore_errors=True)

    ops = {
        # DF cap stays CONSTANT across scales: replicas share no
        # shingles (per-token suffix), so every shingle's global
        # document frequency equals its within-replica frequency and is
        # scale-invariant — a constant cap excludes the same shingles at
        # every S, which is what keeps candidate volume linear by
        # construction (scaling the cap with S would instead re-admit
        # df∈(100, 100·S] shingles at larger S and grow pairs
        # super-linearly, breaking the probe's own premise)
        "q47_ngram_jaccard": lambda df, s: ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.6, max_shingle_df=100
        ),
        # the q54 scrub stage's shape (r7): span mining + per-doc count
        # arithmetic — output exactly one row per doc, wall bounded by
        # the same windowed-hash index as q51
        "q54_scrub_counts": lambda df, s: _scrub_counts(
            df, "doc_id", "text", window=8, min_doc_freq=2
        ),
        "q51_repeated_substrings": lambda df, s: repeated_substring_spans(
            df, "doc_id", "text", window=8, min_doc_freq=2
        ),
        "q46_exact_dedup": lambda df, s: exact_dedup_groups(df, "doc_id", "text"),
        # the two r15-changed paths, probed at replica scale: the
        # persisted minhash feature frame (memory-resident footprint
        # grows with S — MEMORY_AND_DISK must degrade, not die) and the
        # Arrow-batched simhash projection
        "q47b_minhash_pairs": lambda df, s: _minhash_pairs(
            df, "doc_id", "text", n=3,
            jaccard_distance_threshold=0.4,
        ),
        "q46b_simhash": lambda df, s: df.select(
            "doc_id", _simhash_col(_tokens("text"), bits=32).alias("sh")
        ),
    }

    results = []
    for s in scales:
        path = build_corpus(spark, args.sf_dir, s)
        corpus = spark.read.parquet(path)
        # plant per-replica duplicates the same way the q46/q47 corpus
        # does (exact copies of every 10th doc) so dedup output is
        # non-vacuous at every scale. Offset 1e9, NOT 1e8: the replica
        # stride is 1e7, so a 1e8 dup offset equals 10 strides and the
        # planted copies of replica k COLLIDE with replica k+10's
        # originals at S >= 11 (caught at the first S=16 run — pair
        # counts went DOWN; all committed S<=8 records were unaffected)
        dup = corpus.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
        )
        corpus = corpus.unionAll(dup)
        for name, build in ops.items():
            spark.catalog.clearCache()
            t0 = time.time()
            rows = build(corpus, s).count()
            wall = time.time() - t0
            # keep the unrounded wall for the trend ratio (ADVICE r6 #3:
            # a sub-10ms base rounds to 0.0 and the summary division
            # raised AFTER all measurements completed); round for display
            rec = {"op": name, "scale": s, "sec": round(wall, 2), "rows": rows,
                   "_wall": wall}
            results.append(rec)
            print(json.dumps({k: v for k, v in rec.items()
                              if not k.startswith("_")}), flush=True)

    # trend summary: sec(S) / (S * sec(1)) — 1.0 = perfectly linear,
    # < 1.0 = better-than-linear (parallelism amortization)
    base = {r["op"]: r["_wall"] for r in results if r["scale"] == scales[0]}
    for r in results:
        if r["scale"] != scales[0]:
            denom = r["scale"] / scales[0] * base[r["op"]]
            r2 = r["_wall"] / denom if denom > 0 else None
            print(json.dumps({"op": r["op"], "scale": r["scale"],
                              "vs_linear": r2 and round(r2, 2)}), flush=True)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
