"""q61: mergeable HyperLogLog sketch union.

The operation: q19 estimates a distinct count in one pass; this is the
pattern that matters past one pass — SKETCHES AS DATA. Each shard
builds its own DataSketches HLL of distinct users (``hll_sketch_agg``,
a binary column a warehouse would persist per partition/day), and the
per-key answer comes from UNIONING the stored sketches
(``hll_union_agg`` → ``hll_sketch_estimate``) — no raw re-scan. That is
how a 100 TB deployment serves "distinct users per type, any date
range": merge a handful of KB-sized sketches instead of re-shuffling
the raw corpus; the merge is associative, so incremental loads just add
a sketch.

Oracle strategy (q19's tolerance-made-hashable trick, SURVEY §5.3): the
estimate itself is approximate and engine-specific, so the result
carries the EXACT distinct count plus a boolean asserting the unioned
estimate lands within tolerance; the DuckDB oracle emits the exact
count and TRUE — hashes match iff the estimate is in bounds. The shard
count is exact and pins that the union really merged > 1 sketch.

Cites: reference parity n/a; Apache DataSketches HLL via pyspark
``hll_sketch_agg``/``hll_union_agg`` (Spark 3.5+).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_SHARDS = 8
_TOLERANCE = 0.05  # |est − exact| ≤ max(1, 5% · exact)

_Q61_ORACLE = (
    # n_shards mirrors the engine: the count of OCCUPIED user_id % 8
    # residues per type, not a hardcoded 8 — a corpus whose users don't
    # cover every residue must not hash-mismatch a correct result
    "SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, "
    f"COUNT(DISTINCT user_id % {_SHARDS}) AS n_shards, TRUE AS union_ok "
    "FROM events GROUP BY event_type ORDER BY event_type"
)

_Q61_DESCRIPTION = (
    "Q61: mergeable distinct-count sketches — per (event_type, "
    "user_id % 8 shard) HLL sketches built with hll_sketch_agg (the "
    "binary column a warehouse persists per partition), then per-type "
    "answers from hll_union_agg + hll_sketch_estimate over the stored "
    "sketches, never the raw rows. The associative merge is the "
    "incremental / any-date-range distinct-count pattern at 100 TB "
    "scale. Result carries the exact count and an in-bounds assertion "
    "(q19's tolerance-made-hashable oracle trick); n_shards pins that "
    "the union merged real partials."
)


@query("q61_hll_sketch_union", oracle=_Q61_ORACLE,
       description=_Q61_DESCRIPTION, tags=("approx",))
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables(spark, sf_dir)["events"]
    # phase 1 — the 'stored' per-shard sketches (binary, KB-sized)
    shard_sketches = ev.groupBy(
        "event_type", (F.col("user_id") % _SHARDS).alias("shard")
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    # phase 2 — serve from the sketches alone: union + estimate
    unioned = shard_sketches.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
        F.count(F.lit(1)).alias("n_shards"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    ok = F.abs(F.col("est_users") - F.col("exact_users")) <= F.greatest(
        F.lit(1.0), F.col("exact_users").cast("double") * _TOLERANCE
    )
    return (
        exact.join(unioned, "event_type")
        .select(
            "event_type",
            "exact_users",
            F.col("n_shards").cast("long").alias("n_shards"),
            ok.alias("union_ok"),
        )
        .orderBy("event_type")
    )


__all__ = ["q61"]
