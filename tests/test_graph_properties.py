"""Property test: connected_components vs a reference union-find on
random graphs and on one fixed skew-shaped graph — the chain/ring unit
tests pin known shapes; this pins arbitrary ones (SURVEY §5.4
property-test strategy)."""

from __future__ import annotations

import logging

from hypothesis import given, settings
from hypothesis import strategies as st

from bucket_to_bigquery_spark.operators.graph import connected_components


def _union_find(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {i: i for i in range(n_nodes)}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min member id
    comp: dict[int, list[int]] = {}
    for i in range(n_nodes):
        comp.setdefault(find(i), []).append(i)
    return {i: min(members) for members in comp.values() for i in members}


edge_lists = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)),
    min_size=0, max_size=40,
)


@settings(max_examples=6, deadline=None)
@given(edge_lists)
def test_cc_matches_union_find_on_random_graphs(spark, edges):
    n = 25
    expected = _union_find(n, edges)
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["node"])
    if edges:
        e = spark.createDataFrame(edges, ["src", "dst"])
    else:
        e = spark.createDataFrame([], "src long, dst long")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(e, nodes=nodes).collect()
    }
    assert got == expected, sorted(edges)[:10]


def test_cc_matches_union_find_on_giant_star_and_chain(spark):
    """The skew shape: a giant star (one hub, 500 spokes) funnels the
    min-aggregate through one key, next to a 30-hop chain, an 8-ring and
    a singleton from the node universe."""
    chain = [(i, i + 1) for i in range(100, 130)]
    ring = [(200 + i, 200 + (i + 1) % 8) for i in range(8)]
    star = [(1000, 2000 + i) for i in range(500)]
    universe = (list(range(100, 131)) + list(range(200, 208))
                + [999, 1000] + list(range(2000, 2500)))
    reference = _union_find(2500, chain + ring + star)
    edges = spark.createDataFrame(chain + ring + star, ["src", "dst"])
    nodes = spark.createDataFrame([(n,) for n in universe], ["node"])
    got = {r["node"]: r["cluster_id"]
           for r in connected_components(edges, nodes=nodes).collect()}
    assert got == {n: reference[n] for n in universe}


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_cc_default_retain_is_fully_reclaimable(spark):
    """After the published result is consumed, one
    clearCache() reclaims EVERYTHING the call persisted — no checkpoint
    blocks survive it (VERDICT r6 'wrong' #2: pre-r7 each CC call leaked
    one clearCache-immune localCheckpoint RDD for the session's life)."""
    edges = [(1, 2), (2, 3), (10, 11)]
    spark.catalog.clearCache()
    for rid in _persistent_rdd_ids(spark):  # isolate from other tests
        rdd = spark.sparkContext._jsc.getPersistentRDDs().get(rid)
        if rdd is not None:
            rdd.unpersist(False)
    e = spark.createDataFrame(edges, ["src", "dst"])
    labels = connected_components(e)
    got = {r["node"]: r["cluster_id"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # the cached copy is visible to the SQL cache manager...
    assert labels.storageLevel.useMemory or labels.storageLevel.useDisk
    # ...and a plain clearCache reclaims the whole call
    spark.catalog.clearCache()
    assert _persistent_rdd_ids(spark) == set()
    # after reclaim the frame is dead-or-correct: its checkpoint
    # inputs were freed at publish, so a re-collect either raises
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND or — because unpersist is
    # asynchronous and blocks may linger — still serves the SAME
    # labels. What it may never do is silently recompute
    # wrong/partial labels.
    try:
        again = {r["node"]: r["cluster_id"] for r in labels.collect()}
    except Exception as ex:  # noqa: BLE001 — the expected dead path
        assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(ex)
    else:
        assert again == got


def test_cc_logs_iterations_and_convergence(spark, caplog, monkeypatch):
    """CC reports at INFO how many rounds it ran and whether it
    converged; an exhausted budget still warns."""
    from bucket_to_bigquery_spark.operators import graph

    e = spark.createDataFrame([(i, i + 1) for i in range(12)], ["src", "dst"])
    logger = "bucket_to_bigquery_spark.operators.graph"
    caplog.clear()
    with caplog.at_level(logging.INFO, logger=logger):
        connected_components(e).unpersist()
    info = [r.getMessage() for r in caplog.records
            if r.levelno == logging.INFO]
    assert len(info) == 1 and "converged=True" in info[0]
    rounds = int(info[0].split(": ")[1].split(" iterations")[0])
    assert 1 <= rounds <= graph.CC_MAX_ITERATIONS

    caplog.clear()
    monkeypatch.setattr(graph, "CC_MAX_ITERATIONS", 1)
    with caplog.at_level(logging.INFO, logger=logger):
        connected_components(e).unpersist()
    info = [r.getMessage() for r in caplog.records
            if r.levelno == logging.INFO]
    assert info and "1 iterations, converged=False" in info[0]
    assert any(r.levelno == logging.WARNING for r in caplog.records)
