"""STAGED r18 surface (built late r13, NOT registered — GATE_r13.md's
round-18 note budgets the slot) — q151: two-step Lloyd convergence
audit — the next shrink of the q48b/c/d rows-only narrative: q130
value-verifies ONE Lloyd update under injected centroids; the
remaining unverified machine is the convergence LOOP, i.e. the
COMPOSITION of steps, where step k+1's input is step k's computed
centroids rather than an injection. This entry chains TWO steps —
step-1 assignment to the injected centroids, the e6-domain centroid
update (empty lists keep their centroid), then step-2 assignment to
those UPDATED centroids — and emits, per list, both populations,
exact membership checksums (vid sums), and the movement count, all
under a FULL value oracle. After this entry the rows-only
declaration covers only the seeded sample draw and the loop's
iteration COUNT policy — every state transition the loop performs is
hash-verified at depth 2.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C Q48 extension when registered).

Determinism: step 1 is exactly q130's contract (injected lowest-id
centroids at ivf_operating_point(N), exact e12 argmin, ties → lowest
list). Step 2 runs in the e6 integer domain: each vector enters as
engine-side round(v·1e6) BIGINTs; the updated centroid coordinate is
ONE IEEE double — CAST(Σe6 AS DOUBLE)/n for populated lists, the old
coordinate's e6 rounding for empty ones — and each step-2 distance
term rounds (v_e6 − c1)² to a BIGINT before the integer sum (the e12
contract expressed in the e6 domain: (Δ·1e6)² ≡ Δ²·1e12). Membership
checksums are exact integer vid sums. Ordered by list_id.

Window arithmetic (the q48h/q130 precedent): own module;
operators/similarity.py's ivf_operating_point is reused READ-ONLY
(MODULE_DEPS records the edge). MUST stay unregistered through the
r16 similarity rotation (the edge would otherwise grow that window
past 50); registers r18.

Scale design (100 TB): both assignment passes are the q148 shape —
per-(vector, dim) frames joined against broadcast |lists|·d
coordinate frames, map-side-combined to per-(vector, list) integer
distances (vectors never shuffle whole; the exchanged keys are
(vid, list) pairs); the centroid update is the q130/q69 (list, dim)
partial-sum combine. The |lists|·d updated-centroid frame derives
entirely engine-side — no driver collect anywhere in this entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_DIM = 64

# q130's e12 d² SQL twin (re-derived per the q48h rationale)
_D2_E12_SQL = (
    "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
    "CAST(round((CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
    "(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * 1e12) AS BIGINT)))"
    " AS BIGINT)"
)

_Q151_ORACLE = (
    "WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings), "
    "ll AS (SELECT LEAST(GREATEST(CAST(round(sqrt(CAST(n AS DOUBLE))) "
    "AS BIGINT), 8), 4096) AS n_lists FROM nn), "
    "cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) "
    "- 1 AS list_id, embedding AS c_vec FROM embeddings "
    "QUALIFY row_number() OVER (ORDER BY vec_id) <= "
    "(SELECT n_lists FROM ll)), "
    # ---- step 1: q130's assignment ----
    "asg AS (SELECT e.vec_id, e.embedding AS n_vec, c.list_id, "
    + _D2_E12_SQL.format(a="e.embedding", b="c.c_vec")
    + " AS d2 FROM embeddings e CROSS JOIN cent c), "
    "amin1 AS (SELECT vec_id, n_vec, list_id FROM asg "
    "QUALIFY row_number() OVER (PARTITION BY vec_id "
    "ORDER BY d2 ASC, list_id ASC) = 1), "
    "pop1 AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n1, "
    "CAST(sum(vec_id) AS BIGINT) AS vid_sum1 FROM amin1 "
    "GROUP BY list_id), "
    # ---- centroid update (e6 domain; empty lists keep old) ----
    "sums AS (SELECT list_id, j, CAST(sum(CAST(round(n_vec[j] * 1e6) "
    f"AS BIGINT)) AS BIGINT) AS s FROM amin1 CROSS JOIN range(1, {_DIM + 1}) "
    "r(j) GROUP BY list_id, j), "
    f"c1 AS (SELECT c.list_id, r.j, CASE WHEN p.n1 IS NULL THEN "
    "round(c.c_vec[r.j] * 1e6) ELSE CAST(s.s AS DOUBLE) / p.n1 END AS c1 "
    f"FROM cent c CROSS JOIN range(1, {_DIM + 1}) r(j) "
    "LEFT JOIN pop1 p ON c.list_id = p.list_id "
    "LEFT JOIN sums s ON c.list_id = s.list_id AND s.j = r.j), "
    # ---- step 2: assignment to the UPDATED centroids ----
    "ve AS (SELECT vec_id, j, "
    "CAST(round(embedding[j] * 1e6) AS BIGINT) AS v "
    f"FROM embeddings CROSS JOIN range(1, {_DIM + 1}) r(j)), "
    "d2b AS (SELECT ve.vec_id, c1.list_id, "
    "CAST(sum(CAST(round((CAST(ve.v AS DOUBLE) - c1.c1) * "
    "(CAST(ve.v AS DOUBLE) - c1.c1)) AS BIGINT)) AS BIGINT) AS d "
    "FROM ve JOIN c1 ON ve.j = c1.j GROUP BY ve.vec_id, c1.list_id), "
    "amin2 AS (SELECT vec_id, list_id FROM d2b "
    "QUALIFY row_number() OVER (PARTITION BY vec_id "
    "ORDER BY d ASC, list_id ASC) = 1), "
    "pop2 AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n2, "
    "CAST(sum(vec_id) AS BIGINT) AS vid_sum2 FROM amin2 "
    "GROUP BY list_id), "
    # ---- movement between the two assignments ----
    "moved AS (SELECT a1.list_id, CAST(count(*) AS BIGINT) AS n_moved "
    "FROM amin1 a1 JOIN amin2 a2 ON a1.vec_id = a2.vec_id "
    "WHERE a1.list_id != a2.list_id GROUP BY a1.list_id) "
    "SELECT c.list_id, "
    "COALESCE(p1.n1, CAST(0 AS BIGINT)) AS n_step1, "
    "COALESCE(p1.vid_sum1, CAST(0 AS BIGINT)) AS vid_sum1, "
    "COALESCE(p2.n2, CAST(0 AS BIGINT)) AS n_step2, "
    "COALESCE(p2.vid_sum2, CAST(0 AS BIGINT)) AS vid_sum2, "
    "COALESCE(m.n_moved, CAST(0 AS BIGINT)) AS n_moved_out "
    "FROM cent c LEFT JOIN pop1 p1 ON c.list_id = p1.list_id "
    "LEFT JOIN pop2 p2 ON c.list_id = p2.list_id "
    "LEFT JOIN moved m ON c.list_id = m.list_id ORDER BY c.list_id"
)

_Q151_DESCRIPTION = (
    "Q151: two-step Lloyd convergence audit — chains TWO k-means "
    "iterations: q130's injected-centroid exact-e12 assignment, the "
    "e6-domain centroid update (empty lists keep their centroid, "
    "populated coordinates are ONE IEEE double each), then a SECOND "
    "assignment against those UPDATED centroids in the e6 integer "
    "domain; per list: both populations, exact membership checksums "
    "(vid sums), and the movement count. Verifies the loop's "
    "COMPOSITION — step k+1 consuming step k's computed state — so "
    "rows-only covers only the sample draw and iteration-count "
    "policy. Both assignment passes are the q148 broadcast shape; "
    "the updated-centroid frame derives engine-side (no driver "
    "collect)."
)


def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_operating_point

    emb = tables(spark, sf_dir)["embeddings"]
    n = emb.count()
    n_lists = ivf_operating_point(n)

    cent = (
        emb.select("vec_id", "embedding").orderBy("vec_id")
        .limit(n_lists)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("long").alias("list_id"),
            F.col("embedding").alias("c_vec"),
        )
        .cache()  # three consumers: step-1 assign, c1 old branch, spine
    )
    d2_1 = (
        "aggregate(zip_with(n_vec, c_vec, (x, y) -> "
        "cast(round((cast(x as double) - cast(y as double)) * "
        "(cast(x as double) - cast(y as double)) * 1e12) as bigint)), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )
    w1 = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("list_id").asc())
    amin1 = (
        emb.select("vec_id", F.col("embedding").alias("n_vec"))
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "n_vec", "list_id",
                F.expr(d2_1).alias("d2"))
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") == 1)
        .select("vec_id", "n_vec", "list_id")
        .cache()  # three consumers: pop1, sums, movement join
    )
    pop1 = amin1.groupBy("list_id").agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum("vec_id").cast("long").alias("vid_sum1"),
    ).cache()  # two consumers: c1 + final spine
    sums = (
        amin1.select(
            "list_id", F.posexplode("n_vec").alias("j0", "x"))
        .select(
            "list_id", (F.col("j0") + 1).alias("j"),
            F.round(F.col("x").cast("double") * F.lit(1e6))
            .cast("long").alias("c"),
        )
        .groupBy("list_id", "j")
        .agg(F.sum("c").cast("long").alias("s"))
    )
    # cent_comp already enumerates every (list_id, j) pair — no
    # dims-range cross needed (review finding)
    cent_comp = cent.select(
        "list_id",
        F.posexplode("c_vec").alias("j0", "c_raw"),
    ).select("list_id", (F.col("j0") + 1).alias("j"),
             F.col("c_raw").cast("double").alias("c_raw"))
    c1 = (
        cent_comp
        .join(F.broadcast(pop1), "list_id", "left")
        .join(F.broadcast(sums), ["list_id", "j"], "left")
        .select(
            "list_id", "j",
            F.when(
                F.col("n1").isNull(),
                F.round(F.col("c_raw") * F.lit(1e6)),
            ).otherwise(
                F.col("s").cast("double") / F.col("n1")
            ).alias("c1"),
        )
    )
    ve = emb.select(
        "vec_id", F.posexplode("embedding").alias("j0", "x")
    ).select(
        "vec_id", (F.col("j0") + 1).alias("j"),
        F.round(F.col("x").cast("double") * F.lit(1e6)).cast("long")
        .alias("v"),
    )
    term2 = F.round(
        (F.col("v").cast("double") - F.col("c1"))
        * (F.col("v").cast("double") - F.col("c1"))
    ).cast("long")
    d2b = (
        ve.join(F.broadcast(c1), "j")
        .groupBy("vec_id", "list_id")
        .agg(F.sum(term2).cast("long").alias("d"))
    )
    w2 = Window.partitionBy("vec_id").orderBy(
        F.col("d").asc(), F.col("list_id").asc())
    amin2 = (
        d2b.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("list_id").alias("list2"))
        .cache()  # two consumers: pop2 + movement join
    )
    pop2 = amin2.groupBy("list2").agg(
        F.count(F.lit(1)).cast("long").alias("n2"),
        F.sum("vec_id").cast("long").alias("vid_sum2"),
    )
    moved = (
        amin1.select("vec_id", "list_id")
        .join(amin2, "vec_id")
        .where(F.col("list_id") != F.col("list2"))
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_moved"))
    )
    return (
        cent.select("list_id")
        .join(F.broadcast(pop1), "list_id", "left")
        .join(F.broadcast(pop2.withColumnRenamed("list2", "list_id")),
              "list_id", "left")
        .join(F.broadcast(moved), "list_id", "left")
        .select(
            "list_id",
            F.coalesce("n1", F.lit(0)).cast("long").alias("n_step1"),
            F.coalesce("vid_sum1", F.lit(0)).cast("long")
            .alias("vid_sum1"),
            F.coalesce("n2", F.lit(0)).cast("long").alias("n_step2"),
            F.coalesce("vid_sum2", F.lit(0)).cast("long")
            .alias("vid_sum2"),
            F.coalesce("n_moved", F.lit(0)).cast("long")
            .alias("n_moved_out"),
        )
        .orderBy("list_id")
    )


STAGED = {
    "q151_lloyd_two_steps": (q151, _Q151_ORACLE, _Q151_DESCRIPTION,
                             ("llm", "governance")),
}


__all__ = ["q151", "STAGED"]
