"""Distributed connected components — the cluster-assignment stage of a
dedup pipeline (SURVEY §2.C Q46; BASELINE north star).

Pair-finding (exact groups, Jaccard pairs, LSH candidates — operators/
dedup.py) yields EDGES; an actual dedup pass needs the transitive closure:
every document assigned a cluster id so one canonical survivor per cluster
can be kept. This is min-label propagation:

    label(v) ← min(label(v), min over neighbors u of label(u))

iterated to fixpoint, accelerated by pointer jumping (``lbl(v) ←
lbl(lbl(v))``) so the round count is O(log diameter) rather than
O(diameter). Each round is two shuffles (edge join + min-aggregate, then
the label self-join); near-dup clusters are near-cliques, so 2-3 rounds
converge even at corpus scale, and a pathological chain still converges
logarithmically. Labels only ever decrease and are bounded below by the
component minimum, so the fixpoint is exact, not approximate.

Scale notes (100 TB):
- lineage is truncated every iteration with ``materialize.checkpoint``
  (released once the next round exists) — without it the iterated
  join/agg plan doubles per round and the optimizer re-derives the whole
  prefix each action; ``materialize.publish`` hands out the labels as a
  SQL-cached frame, so ``clearCache()`` reclaims the whole call;
- convergence is detected with a SCALAR aggregate per round (count of
  changed labels), never by collecting labels to the driver;
- pointer jumping keeps rounds logarithmic in the diameter.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import checkpoint, publish

logger = logging.getLogger(__name__)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iterations: int = 25,
    nodes_unique: bool = False,
    edges_unique: bool = False,
) -> DataFrame:
    """Assign every node its connected component's minimum node id.

    Parameters
    ----------
    edges:
        Undirected edge list (each pair once is enough — it is
        symmetrized here). Node ids must be orderable (the component id
        is the component's MIN id).
    nodes:
        Optional node universe (one column ``node_col``). Nodes with no
        edges become singleton clusters. Defaults to the ids appearing
        in ``edges``.
    nodes_unique:
        ``True`` asserts ``nodes`` already has one row per node, skipping
        a distinct shuffle (e.g. a primary-key column).
    edges_unique:
        ``True`` asserts each undirected edge appears exactly once with
        ``src != dst`` (e.g. pair-miner output with ``id_a < id_b``),
        skipping the distinct on the symmetrized edge set.

    Returns ``(node, cluster_id)`` — one row per node, published into the
    SQL cache with every checkpoint block freed, so ``df.unpersist()`` /
    ``clearCache()`` fully reclaim the call (see
    :func:`~.materialize.publish`).
    """
    if max_iterations < 1:
        # below 1 the seed labels are never re-checkpointed, so they
        # still read the edge-set checkpoint blocks the publish step
        # frees — the result would be dead-on-arrival, not "unconverged"
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    if not edges_unique:
        sym = sym.distinct()
    # Edges drive a join per iteration: materialize once, reuse each round.
    sym, release_sym = checkpoint(sym)

    # Seed labels with min(self, min neighbor) — exactly what round one of
    # identity-seeded propagation would compute, but as ONE aggregate on
    # the edge set instead of a join + aggregate + convergence check (for
    # the near-clique graphs dedup produces, this converges next round).
    nbr_min = sym.groupBy("s").agg(F.min("d").alias("m"))
    if nodes is None:
        labels = nbr_min.select(
            F.col("s").alias("node"), F.least("s", "m").alias("lbl")
        )
    else:
        u = nodes.select(F.col(node_col).alias("node"))
        if not nodes_unique:
            u = u.distinct()
        labels = u.join(
            nbr_min.withColumnRenamed("s", "node"), "node", "left"
        ).select(
            "node",
            F.least(F.col("node"), F.coalesce("m", F.col("node"))).alias("lbl"),
        )
    # no checkpoint for the seed: its lineage is one aggregate off the
    # already-checkpointed edge set — truncation starts paying from the
    # first iterated round (stepped) onward
    def release_labels() -> None:
        pass

    converged = False
    for rounds in range(1, max_iterations + 1):
        # neighbor messages: every node hears its neighbors' current labels
        msgs = (
            sym.join(labels, sym["d"] == labels["node"])
            .select(F.col("s").alias("node"), "lbl")
        )
        # new label = min(own, neighbors') — one shuffle on node id with
        # map-side partial min
        stepped, release_stepped = checkpoint(
            labels.unionAll(msgs)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        # convergence check BEFORE the pointer jump: if the min-propagate
        # step changed nothing, the jump can't either (it only reads
        # labels the step just produced), so the final confirming round
        # skips the jump join entirely. isEmpty short-circuits at the
        # first differing row instead of counting them all.
        converged = (
            stepped.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .isEmpty()
        )
        release_labels()  # stepped is materialized; old round safe
        if converged:
            labels, release_labels = stepped, release_stepped
            break
        # pointer jumping: lbl(v) ← min(lbl(v), lbl(lbl(v))). Plain
        # propagation moves the component minimum ONE hop per round
        # (O(diameter) rounds — a 30-node chain needs 30 shuffles); the
        # jump halves every label-chain each round, making total rounds
        # O(log diameter). Every label value is itself a node id, so the
        # self-join is total.
        jump = stepped.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        labels, release_labels = checkpoint(
            stepped.join(jump, "lbl")
            .select("node", F.least("lbl", "lbl2").alias("lbl"))
        )
        release_stepped()
    logger.info("connected_components: %d iterations, converged=%s",
                rounds, converged)
    if not converged:
        logger.warning(
            "connected_components: max_iterations=%d exhausted before "
            "convergence — labels may not be component minima",
            max_iterations,
        )
    release_sym()
    out, _ = publish(
        labels.select("node", F.col("lbl").alias("cluster_id")),
        release_labels,
    )
    return out

