"""New r10 surface (fifth batch) — q78/q78b: graph analytics over the
part co-occurrence graph (parts co-ordered within an order, support
>= 2): PageRank under an exact integer contract, and triangle counting
with the degree-orientation trick. Complements the q46c connected
components (operators/graph.py) with the other two canonical
graph-at-scale shapes — implemented inline, independent of
operators/graph.py.

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension, registered r10).

Determinism (the scaled-int contract, hard mode): PageRank is an
ITERATIVE float algorithm — five rounds of cross-engine double sums
would accumulate ulp divergence past any final rounding. So the rank
never exists as a float: mass is a BIGINT at scale 1e12, every transfer
is integer floor division (``div`` in Spark, ``//`` in DuckDB — both
truncate, identical on the all-positive domain), and each iteration is

    r[v] = (15*S) // (100*N)  +  (85 * Σ_{u→v} (r[u] // deg[u])) // 100

— exact integer arithmetic on both engines, so even the INTERMEDIATE
states match bit-for-bit and the oracle replays all five iterations as
unrolled CTEs. The floor leaks < 1 unit per division (bounded by
edges + nodes per round ≪ S); mass conservation within that bound is
pinned in pytest.

Scale design (100 TB): the edge list is built once (the q76 a-priori
shape: distinct → per-basket self-join → support filter) and CACHED —
the registry's deliberate-cache policy (q31c's stacked views, the
bounded cell/day frames of q80/q83/q84, and this): a multi-consumer
derived frame whose re-derivation would replay an expensive pipeline —
here an iterative algorithm re-reads its invariant edge set 5×, and
re-deriving it would re-run the self-join per iteration. Per iteration
the rank vector (one row per NODE, vocabulary-bounded: parts dimension)
broadcasts to the edge partitions and the contribution sum shuffles on
dst — the edge stream itself never re-partitions. Beyond ~10M nodes the
broadcast flips to a co-partitioned shuffle join on (src = node); the
plan shape is otherwise the standard Pregel-on-DataFrames unroll.
Triangle counting orients each undirected edge from the (deg, id)-lower
endpoint to the higher, bounding out-degree by O(√m) — the wedge join
then does linear-ish work instead of exploding on hub nodes (the
classic MapReduce-triangles result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_S = 10**12  # rank mass scale (e12)
_ITERS = 5
_MIN_COOC = 2  # undirected edge = parts co-ordered in >= 2 orders

_EDGES_SQL = (
    "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
    "pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM items a "
    "JOIN items b ON a.l_orderkey = b.l_orderkey "
    "AND a.l_partkey < b.l_partkey "
    f"GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= {_MIN_COOC}), "
    "edges AS (SELECT pa AS src, pb AS dst FROM pairs "
    "UNION ALL SELECT pb AS src, pa AS dst FROM pairs), "
    "deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg "
    "FROM edges GROUP BY src), "
)


def _pagerank_oracle() -> str:
    ctes = [
        _EDGES_SQL
        + "n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg), "
        f"r0 AS (SELECT node, deg, CAST({_S} // n_nodes AS BIGINT) AS r "
        "FROM deg CROSS JOIN n)"
    ]
    for i in range(1, _ITERS + 1):
        ctes.append(
            f"s{i} AS (SELECT e.dst AS node, "
            f"CAST(sum(r.r // r.deg) AS BIGINT) AS s "
            f"FROM edges e JOIN r{i - 1} r ON e.src = r.node GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT d.node, d.deg, "
            f"CAST((15 * {_S}) // (100 * n.n_nodes) "
            f"+ (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r "
            f"FROM deg d CROSS JOIN n LEFT JOIN s{i} s ON s.node = d.node)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node AS part, deg, r AS pr_e12 FROM r{_ITERS} "
        "ORDER BY part"
    )


_Q78_DESCRIPTION = (
    "Q78: PageRank (5 iterations, d=0.85) over the part co-occurrence "
    "graph under the exact-integer contract: rank mass is a BIGINT at "
    "scale e12, every transfer an integer floor division, so all five "
    "iterations match DuckDB's unrolled-CTE replay bit-for-bit (no "
    "float accumulates across rounds). Edges built once (a-priori "
    "co-occurrence shape) and cached for the iteration; the per-node "
    "rank vector broadcasts each round while the edge stream stays put "
    "(one dst shuffle per iteration — the Pregel-on-DataFrames unroll, "
    "plan-pinned on the cache reuse)."
)


def _cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q78-family graph: canonical (pa < pb) part pairs co-ordered
    in >= _MIN_COOC distinct orders. ONE Spark-side definition shared by
    q78 and q78b (the oracle side already shares _EDGES_SQL) so the two
    builders cannot drift apart.

    r17 shape (guide §2.2/§2.3, the q89 in-row pair enumeration): ONE
    map-side-combined collect_set aggregate builds each order's distinct
    part basket, and the canonical pairs are enumerated ROW-LOCALLY from
    the sorted basket. The old items-distinct + per-order self-join shape
    executed the 600k-row two-phase distinct TWICE (once per join side),
    broadcast one full copy, and streamed the other through the join —
    per und fill: 2 lineitem scans + 2 distinct exchanges + a corpus-wide
    broadcast build. Now: 1 scan + 1 basket exchange (partial collect_set
    dedups map-side) + an in-row expansion bounded by the basket size
    (TPC-H orders hold ≤7 distinct parts). Same pair multiset by
    construction: sort_array fixes pa < pb and collect_set supplies the
    same per-order distinct items the old join deduped."""
    li = tables(spark, sf_dir)["lineitem"]
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select("ps")
    )
    return _pairs_from_baskets(baskets)


# A mined graph is usually orders of magnitude smaller than its input
# (the cooc >= _MIN_COOC filter keeps 3.6k edges from 1.2M candidate
# pairs at sf0.1), but a CACHED frame pins the mining shuffle's
# partitioning — AQE cannot re-coalesce InMemoryRelation output
# (canChangeCachedPlanOutputPartitioning is off by default) — so every
# downstream stage ran a full shuffle-partition-wide task wave over a
# few thousand rows, and the iterative/multi-consumer reads multiplied
# that fixed per-task cost (q78b measured 64-task waves over 3.6k rows;
# ~0.1 cpu-s per task). _compact_graph materializes the mined frame
# ONCE (eager localCheckpoint — no columnar cache conversion), counts
# it (a bounded scalar the callers already need: q78b outputs n_edges,
# q78 needs the empty-graph exit), and coalesces the checkpointed
# blocks to a partition count derived from the MEASURED size — 1 task
# per ~100k edges, capped at cluster width. Scale-adaptive by
# construction: a 10^9-edge co-occurrence graph keeps defaultParallelism
# partitions; the bench graph collapses to 1.
_ROWS_PER_GRAPH_PARTITION = 100_000


def _pairs_from_baskets(baskets: DataFrame) -> DataFrame:
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    return (
        baskets.where(F.size("ps") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("cooc"))
        .where(F.col("cooc") >= _MIN_COOC)
        .select("pa", "pb")
    )


def _compact_graph(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize a mined graph frame once and right-size its
    partitioning to its measured row count (see the note above).
    Returns (frame, n_rows)."""
    ck = df.localCheckpoint(eager=True)
    n = ck.count()
    sc = df.sparkSession.sparkContext
    parts = max(1, min(sc.defaultParallelism,
                       -(-n // _ROWS_PER_GRAPH_PARTITION)))
    return ck.coalesce(parts), n


@query("q78_pagerank", oracle=_pagerank_oracle(),
       description=_Q78_DESCRIPTION, tags=("graph", "analytics"))
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 iteration shape: each round's rank frame materializes as a
    # localCheckpoint instead of staying a lazy subtree. The old unroll
    # was ONE plan whose five nested BroadcastExchanges re-planned and
    # re-executed the whole iteration chain sequentially inside a single
    # action (the q47b BroadcastExchange-subtree lesson) — plan size and
    # codegen grew with the iteration count. Now each round's broadcast
    # reads the previous round's materialized |nodes| rows, the per-round
    # plan is constant-size (standard Pregel practice), and n_nodes is a
    # driver scalar (one bounded count) folded into the integer
    # expressions as a literal — dropping the per-iteration 1-row
    # crossJoin broadcasts (the "6 BNLJs" of the r15 plan audit).
    # Intermediate checkpoint blocks are freed as soon as the next round
    # materializes; the final round's blocks back the returned frame
    # (the CC operator's retain="checkpoint" mode — bench sweeps and
    # session clearCache/unpersist reclaim them).
    sc = spark.sparkContext

    def _ckpt(df: DataFrame) -> tuple[DataFrame, list[int]]:
        before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        out = df.localCheckpoint(eager=True)
        after = sc._jsc.getPersistentRDDs().keySet().toArray()
        return out, [i for i in after if i not in before]

    def _free(ids: list[int]) -> None:
        jmap = sc._jsc.getPersistentRDDs()
        for i in ids:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist(False)

    # r17: the invariant edge/degree frames are _compact_graph
    # materializations instead of .cache() — the caches pinned the
    # mining shuffle's partition count, so every one of the 5 iterations
    # re-ran full-width task waves over a few thousand rows (see the
    # _compact_graph note); the checkpointed blocks are read narrowly at
    # the size-derived width every round, and the counts they need were
    # already part of the algorithm (empty-graph exit / n_nodes scalar).
    pairs, n_edges = _compact_graph(_cooccurrence_pairs(spark, sf_dir))
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(pairs.select(F.col("pb").alias("src"),
                            F.col("pa").alias("dst")))
    deg, n_nodes = _compact_graph(
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    if n_nodes == 0:
        return spark.createDataFrame([], "part long, deg long, pr_e12 long")

    ranks, rank_ids = _ckpt(deg.selectExpr(
        "node", "deg", f"CAST({_S // n_nodes} AS BIGINT) AS r"
    ))
    base = (15 * _S) // (100 * n_nodes)
    for _ in range(_ITERS):
        contrib = (
            edges.join(
                F.broadcast(
                    ranks.selectExpr("node", "r div deg AS c")
                ),
                edges.src == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        nxt, nxt_ids = _ckpt(
            deg.join(F.broadcast(contrib), deg.node == contrib.dst, "left")
            .selectExpr(
                "node", "deg",
                f"CAST({base} + (85 * coalesce(s, 0)) div 100 AS BIGINT) AS r",
            )
        )
        _free(rank_ids)
        ranks, rank_ids = nxt, nxt_ids
    return (
        ranks.select(F.col("node").alias("part"), "deg",
                     F.col("r").alias("pr_e12"))
        .orderBy("part")
    )


_Q78B_ORACLE = (
    "WITH " + _EDGES_SQL +
    "und AS (SELECT pa AS u, pb AS v FROM pairs), "
    # orient each undirected edge from the (deg, id)-lower endpoint
    "ordered AS (SELECT CASE WHEN (du.deg, u.u) < (dv.deg, u.v) "
    "THEN u.u ELSE u.v END AS lo, "
    "CASE WHEN (du.deg, u.u) < (dv.deg, u.v) THEN u.v ELSE u.u END AS hi "
    "FROM und u JOIN deg du ON du.node = u.u JOIN deg dv ON dv.node = u.v), "
    "tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM ordered e1 "
    "JOIN ordered e2 ON e2.lo = e1.hi "
    "JOIN ordered e3 ON e3.lo = e1.lo AND e3.hi = e2.hi), "
    "stats AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes, "
    "CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg), "
    "m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und) "
    "SELECT s.n_nodes, m.n_edges, s.n_wedges, t.n_triangles, "
    "CASE WHEN s.n_wedges = 0 THEN CAST(0 AS BIGINT) ELSE "
    "CAST((3 * t.n_triangles * 1000000) // s.n_wedges AS BIGINT) END "
    "AS gcc_e6 FROM stats s CROSS JOIN m CROSS JOIN tri t"
)

_Q78B_DESCRIPTION = (
    "Q78b: triangle count + global clustering coefficient over the part "
    "co-occurrence graph. Each undirected edge is ORIENTED from its "
    "(deg, id)-lower endpoint before the wedge join — out-degree is then "
    "O(sqrt(m)), so the wedge enumeration does linear-ish work instead "
    "of exploding on hub nodes (the classic MapReduce-triangles bound); "
    "each triangle is counted exactly once (the orientation is acyclic). "
    "All-integer output; gcc scaled to e6 by integer division."
)


@query("q78b_triangle_count", oracle=_Q78B_ORACLE,
       description=_Q78B_DESCRIPTION, tags=("graph", "analytics"))
def q78b(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17: _compact_graph materializations replace the caches (the
    # mining feeds deg, the edge total AND the orientation; the old
    # cached frames pinned full-width partitioning over a few thousand
    # rows — see the _compact_graph note), deg is materialized once for
    # its THREE consumers (du/dv/stats; it was recomputed per consumer
    # before), and n_edges folds in as the measured driver scalar
    # instead of a crossJoined 1-row aggregate.
    und, n_edges = _compact_graph(
        _cooccurrence_pairs(spark, sf_dir)
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
    )
    edges = und.unionAll(und.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
    deg, _ = _compact_graph(
        edges.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    lower = (F.struct("deg_u", "u") < F.struct("deg_v", "v"))
    ordered = (
        und.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
        # three wedge-join consumers (e1/e2/e3); narrow over the und
        # checkpoint, so it materializes at the size-derived width
        .localCheckpoint(eager=True)
    )
    e1 = ordered.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    e2 = ordered.select(F.col("lo").alias("y2"), F.col("hi").alias("z"))
    e3 = ordered.select(F.col("lo").alias("x3"), F.col("hi").alias("z3"))
    tri = (
        e1.join(e2, e1.y == e2.y2)
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("(deg * (deg - 1)) div 2")).cast("long")
        .alias("n_wedges"),
    )
    return (
        stats.withColumn("n_edges", F.lit(n_edges).cast("long"))
        .crossJoin(F.broadcast(tri))
        .selectExpr(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            # wedge-free graph (perfect matching) ⇒ gcc 0, not a
            # division error (Spark ANSI throws, DuckDB raises too)
            "CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST((3 * n_triangles * 1000000) div n_wedges AS BIGINT) "
            "END AS gcc_e6",
        )
    )


__all__ = ["q78", "q78b"]
