"""q132:
near-duplicate components — connected components over the q115
fingerprint-cluster adjacency (hamming ≤ 3 edges between distinct
32-bit SimHash clusters), reported per component: representative
(minimum doc_id), cluster count, document mass — and q133: the
near-duplicate dedup APPLY (the q46d analogue at near-dup
granularity): each component keeps exactly its minimum-doc_id
survivor, reported per source as retained/removed mass. Together with
q115 (edges) and q116 (hamming-0 inflation) this closes the near-dup
path: report → edges → components → apply.

Cross-paradigm verification (why these entries are interesting beyond
their semantics): the Spark side runs the ITERATIVE pointer-jumping
operator (operators/graph.connected_components — the q46c/q54
machinery); the DuckDB oracle computes the same labels with a
RECURSIVE CTE min-label closure. Hash equality pins an iterative
distributed algorithm against a recursive SQL definition of the same
fixpoint — the strongest oracle shape the CC family has had (q46c's
oracle keys on exact-text groups, where components are single-hop).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism: fingerprints/banding/hamming are the q115 contract —
the cluster frame and banded adjacency are IMPORTED builders
(hamming.cluster_frame/adjacency), and the oracle's band/threshold
constants interpolate hamming._N_BANDS/_BAND_BITS/_MAX_HAMMING so the
documented 64-bit widening seam updates every oracle together;
component label = the component's MINIMUM cluster representative
(exact integers, both paradigms); counts and doc masses exact
BIGINTs. Ordered on the unique leading key.

Scale design (100 TB): nodes are fingerprint CLUSTERS (≤ |distinct
fingerprints|), never documents; edges are the q115 banded adjacency
(never all-pairs); each builder folds the corpus ONCE (the cached
fingerprint frame feeds the cluster aggregation, the adjacency, and —
for q133 — the doc-level label join). connected_components is the
log-diameter pointer-jumping operator with block-released
checkpoints (the r7 leak fix). The recursive-CTE closure is ORACLE-side only (DuckDB, test
scale) — its worst case is Σ|component|² rows, fine at gate scale and
irrelevant to the engine plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import simhash_col, tokens
from ..operators.graph import connected_components
from .hamming import (
    _BAND_BITS,
    _MAX_HAMMING,
    _N_BANDS,
    _SIMHASH_SQL,
    adjacency,
    cluster_frame,
)
from .llm_queries import _TOKHASH_SQL, _TOKS_SQL, closure_ctes
from .registry import query, tables

# Shared recursive-closure prefix: fingerprints → clusters → banded
# edges (constants IMPORTED from hamming — the widening seam updates
# this oracle with q115's) → symmetric edge list → min-label closure.
_CLOSURE_PREFIX = (
    "WITH RECURSIVE t AS (SELECT doc_id, "
    f"list_transform(list_distinct({_TOKS_SQL}), t -> "
    + _TOKHASH_SQL.format(t="t")
    + ") AS hs FROM documents), "
    f"f AS (SELECT doc_id, {_SIMHASH_SQL} AS sh FROM t), "
    "cl AS (SELECT sh, CAST(min(doc_id) AS BIGINT) AS rep, "
    "CAST(count(*) AS BIGINT) AS sz FROM f GROUP BY sh), "
    "b AS (SELECT sh, rep, i AS bi, "
    f"(sh >> (i * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1} AS bv "
    f"FROM cl CROSS JOIN range(0, {_N_BANDS}) r(i)), "
    "ed AS (SELECT DISTINCT x.rep AS ra, y.rep AS rb "
    "FROM b x JOIN b y ON x.bi = y.bi AND x.bv = y.bv AND x.rep < y.rep "
    f"WHERE bit_count(xor(x.sh, y.sh)) <= {_MAX_HAMMING}), "
    # the min-label closure over the cluster graph: lab(rep, cluster_id)
    # is each cluster's component minimum representative
    + closure_ctes("ed", "ra", "rb", "cl", "rep")
)

_Q132_ORACLE = (
    _CLOSURE_PREFIX
    + " SELECT lab.cluster_id AS component_rep, "
    "CAST(count(*) AS BIGINT) AS n_clusters, "
    "CAST(sum(cl.sz) AS BIGINT) AS n_docs "
    "FROM lab JOIN cl ON cl.rep = lab.rep "
    "GROUP BY lab.cluster_id ORDER BY component_rep"
)

_Q132_DESCRIPTION = (
    "Q132: near-duplicate components — connected components over the "
    "q115 simhash cluster adjacency, per component: min-doc_id "
    "representative, cluster count, document mass (the transitive "
    "grouping a near-dedup apply keys on). Spark runs the iterative "
    "pointer-jumping CC operator (log-diameter); the "
    "oracle recomputes the same labels with a recursive-CTE min-label "
    "closure — an iterative distributed algorithm hash-pinned against "
    "a recursive SQL fixpoint. Nodes are fingerprint clusters, edges "
    "the banded adjacency — documents never shuffle."
)


def _labeled_clusters(cl: DataFrame) -> DataFrame:
    """(sh, rep, sz, c): each fingerprint cluster with its component
    label from the iterative CC operator. ``cl`` should be cached by
    the caller (it feeds the node universe, the adjacency, and the
    result join)."""
    labels = connected_components(
        adjacency(cl).select(
            F.col("rep_a").alias("src"), F.col("rep_b").alias("dst")),
        nodes=cl.select(F.col("rep").alias("node")),
        nodes_unique=True,
        edges_unique=True,
    )
    return cl.join(labels, cl["rep"] == labels["node"]).select(
        "sh", "rep", "sz", F.col("cluster_id").alias("c"))


@query("q132_neardup_components", oracle=_Q132_ORACLE,
       description=_Q132_DESCRIPTION, tags=("llm", "dedup", "graph"))
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    cl = cluster_frame(docs).cache()  # three consumers (nodes, edges,
    #                                   mass join) — q80 lesson
    return (
        _labeled_clusters(cl)
        .groupBy(F.col("c").alias("component_rep"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
        .orderBy("component_rep")
    )


_Q133_ORACLE = (
    _CLOSURE_PREFIX
    # doc -> fingerprint cluster -> component; survivor = the doc that
    # IS its component's label (min doc_id in the component)
    + ", dl AS (SELECT d.doc_id, d.source, lab.cluster_id AS c "
    "FROM documents d "
    "JOIN f ON f.doc_id = d.doc_id JOIN cl ON cl.sh = f.sh "
    "JOIN lab ON lab.rep = cl.rep) "
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(CASE WHEN doc_id = c THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_survivors, "
    "CAST(sum(CASE WHEN doc_id = c THEN 0 ELSE 1 END) AS BIGINT) "
    "AS n_removed, "
    "CAST(round(CAST(sum(CASE WHEN doc_id = c THEN 0 ELSE 1 END) "
    "AS DOUBLE) / count(*) * 1e6) AS BIGINT) AS removed_share_e6 "
    "FROM dl GROUP BY source ORDER BY source"
)

_Q133_DESCRIPTION = (
    "Q133: near-duplicate dedup APPLY — the q46d analogue at near-dup "
    "granularity: each q132 component keeps exactly its minimum-doc_id "
    "survivor; the report is each source's retained/removed mass and "
    "removal share (e6). ONE cached fingerprint pass feeds clusters, "
    "adjacency and the doc-level label join (documents shuffle once, "
    "on the 8-byte fingerprint); the same recursive-CTE closure "
    "oracles the component labels."
)


@query("q133_neardup_apply", oracle=_Q133_ORACLE,
       description=_Q133_DESCRIPTION, tags=("llm", "dedup", "graph"))
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    # one fold for the whole query: fp feeds the cluster aggregation
    # AND the doc-level label join (q80 lesson — review finding: the
    # first cut folded the corpus three times)
    fp = docs.select(
        "doc_id", "source",
        simhash_col(tokens("text")).alias("sh"),
    ).cache()
    cl = (
        fp.groupBy("sh")
        .agg(
            F.min("doc_id").cast("long").alias("rep"),
            F.count(F.lit(1)).cast("long").alias("sz"),
        )
        .cache()  # nodes + edges + the label join (q80 lesson)
    )
    lab = (
        fp.join(_labeled_clusters(cl).select("sh", "c"), "sh")
        .select("doc_id", "source", "c")
    )
    survivor = (F.col("doc_id") == F.col("c")).cast("long")
    return (
        lab.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(survivor).cast("long").alias("n_survivors"),
            F.sum(F.lit(1) - survivor).cast("long").alias("n_removed"),
            F.round(
                F.sum(F.lit(1) - survivor).cast("double")
                / F.count(F.lit(1)) * F.lit(1e6)
            ).cast("long").alias("removed_share_e6"),
        )
        .orderBy("source")
    )


__all__ = ["q132", "q133"]
