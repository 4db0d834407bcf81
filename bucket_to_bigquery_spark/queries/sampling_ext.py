"""q59: weighted sampling without replacement via
deterministic exponential keys.

The operation: draw the top-k WEIGHTED sample per language stratum —
the Efraimidis–Spirakis 'A-ES' scheme: each row gets key = −ln(u)/w
for u ~ U(0,1], and the k smallest keys are a weighted sample without
replacement. It is the importance-sampling complement to q56's mixture
rates (q56 thins per-language VOLUME; q59 picks WHICH docs survive,
upweighting by a per-doc weight — here n_chars, standing in for a
quality score). u comes from the md5-bucket trick (q49g/q56/q57), not
rand(): the sample is bit-reproducible across runs and engines, which
is what makes a training-data sample auditable.

Scale design (100 TB): the key is a row-local projection and the
candidate frame is pre-projected to (lang, key, doc_id, weight) — no
text ever shuffles. A naive per-stratum window would shuffle ALL N rows
onto |lang| ≈ 5 partitions (the q09b skew trap), so selection is
TWO-PHASE: top-k within (lang, salt % 16) salted sub-strata — 16-way
parallel, each partition bounded — then top-k of the ≤ 16·k survivors
per lang. Exact by construction (the k global smallest are each among
their own sub-stratum's k smallest); the second window runs over ≤ 16·k
rows per language regardless of N.

Ranking exactness (ADVICE r9 #5): ranking directly on the double key
−ln(u)/w would let a 1–2 ulp libm divergence between the JVM and DuckDB
flip the rank of two near-equal keys and fail the hash oracle. So both
engines rank on an INTEGER surrogate quantized in log-space:
``skey = round((ln(−ln u) − ln w)·1e6)`` as BIGINT — monotone in the key
(ln is increasing), with RELATIVE 1e-6 resolution, so the near-zero
winning keys keep full ordering resolution (an absolute quantum would
collapse exactly the top of the ranking). Keys within 1e-6 relative tie
and break by doc_id identically in both engines; an engine-disagreement
now needs the true value within ~1e-15 of a quantization boundary
(~1e-9/row instead of certainty-over-time). u = (2b+1)/2^33 sits
strictly inside (0,1), so ln(−ln u) is always finite.

Cites: reference parity n/a (no sampling surface in the 589-LoC
loader); Efraimidis & Spirakis, "Weighted random sampling with a
reservoir", IPL 2006 — the standard distributed weighted-sampling
scheme (one pass, mergeable top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, tables

_K = 25          # sample size per language stratum
_SALTS = 16      # sub-strata per language in the first top-k phase

# deterministic u ~ U(0,1) strictly: (2·first-8-md5-hex(doc_id) + 1) / 2^33
_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
# integer rank surrogate: round((ln(−ln u) − ln w)·1e6) — monotone in the
# A-ES key −ln(u)/w; both engines round half-away-from-zero on doubles
_SKEY_SQL = (
    f"CAST(round((ln(-ln((2 * ({_BUCKET_SQL}) + 1) / 8589934592.0)) "
    "- ln(GREATEST(n_chars, 1))) * 1000000.0) AS BIGINT)"
)

_Q59_ORACLE = (
    # single-phase reference formulation — equivalent to the engine's
    # two-phase salted selection by construction
    f"WITH keyed AS (SELECT lang, doc_id, GREATEST(n_chars, 1) AS weight, "
    f"{_BUCKET_SQL} AS bucket, {_SKEY_SQL} AS skey FROM documents), "
    "ranked AS (SELECT lang, doc_id, weight, bucket, "
    "CAST(row_number() OVER (PARTITION BY lang ORDER BY skey ASC, doc_id ASC) "
    "AS BIGINT) AS rank FROM keyed) "
    f"SELECT lang, rank, doc_id, weight, bucket FROM ranked WHERE rank <= {_K} "
    "ORDER BY lang, rank"
)

_Q59_DESCRIPTION = (
    "Q59: weighted sampling without replacement — per-language top-25 by "
    "the Efraimidis–Spirakis exponential key −ln(u)/w (w = n_chars as "
    "the quality-score stand-in; u = deterministic md5 uniform, so the "
    "sample is bit-reproducible and value-oracled). Two-phase salted "
    "top-k: 16 sub-strata per language bound every window partition "
    "regardless of corpus size, then the ≤ 16·k survivors re-rank — "
    "exact, and the skewed 5-partition window shuffle of the naive plan "
    "never happens. Ranking runs on an integer log-space quantization of "
    "the key (round((ln(−ln u) − ln w)·1e6) as BIGINT, doc_id "
    "tie-break), so a last-ulp libm divergence between engines cannot "
    "flip ranks; every output column is an exact integer."
)


def _keyed(docs: DataFrame) -> DataFrame:
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    weight = F.greatest(F.col("n_chars"), F.lit(1))
    u = (bucket * 2 + 1) / F.lit(8589934592.0)
    skey = F.round((F.log(-F.log(u)) - F.log(weight)) * 1000000.0).cast("long")
    return docs.select(
        "lang",
        "doc_id",
        weight.alias("weight"),
        bucket.alias("bucket"),
        skey.alias("skey"),
    )


@query("q59_weighted_sample", oracle=_Q59_ORACLE, description=_Q59_DESCRIPTION,
       tags=("llm",))
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = _keyed(tables(spark, sf_dir)["documents"])
    w1 = Window.partitionBy("lang", "salt").orderBy(
        F.col("skey").asc(), F.col("doc_id").asc()
    )
    survivors = (
        keyed.withColumn("salt", F.col("bucket") % _SALTS)
        .withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= _K)
        .drop("salt", "r1")
    )
    w2 = Window.partitionBy("lang").orderBy(
        F.col("skey").asc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= _K)
        .select("lang", "rank", "doc_id", "weight", "bucket")
        .orderBy("lang", "rank")
    )


__all__ = ["q59"]
