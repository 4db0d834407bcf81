"""STAGED r17 surface (built late r13, NOT registered — GATE_r13.md's
round-17 note budgets the slot) — q139: product-quantization (PQ)
encode audit — the vector-compression leg of the ANN family
(q48/q48b–h): split each D-dim embedding into M=8 subvectors, assign
every subvector to its nearest of K=16 injected codewords, and emit
each vector's code word — the M 4-bit codes packed into one BIGINT
(nibble m at bit 4m) — plus its exact reconstruction error. PQ is
how a 100 TB embedding corpus becomes servable: 64 float32 dims
(256 B) compress to M=8 code bytes (32×), and IVF-PQ scans the codes.

Codebooks are INJECTED deterministically — the K lowest-vec_id corpus
vectors' sub-slices, the q48h/q130 injected-centroid discipline — so
the full encode path (sub-slicing, per-subspace exact-e12 argmin with
ties to the lowest codeword, code assembly, error accumulation) is
bit-reproducible in plain SQL. The e12 d² contract is re-derived
inline (the q48h rationale: importing llm_queries/similarity would
add a spurious MODULE_DEPS edge onto their rotation families).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C Q48-family extension when
registered).

Determinism: per-subspace distances are the exact e12 integers
(elementwise round((x−y)²·1e12) sums — the q48g/q48h contract);
argmin ties break to the lowest code_id; the code word packs nibble
m at bit 4m (pure integer shifts); recon error is an integer sum.
Ordered by vec_id.

Scale design (100 TB): the codebook is K·M tiny sub-slices broadcast
to every executor; the corpus makes ONE pass (explode ×M, broadcast
join, per-(vector, subspace) argmin window over a ≤K-row group) and
never shuffles full vectors — the only shuffle keys are
(vec_id, m) pairs for the window and vec_id for the final assembly.
Codebook selection uses TakeOrdered (distributed top-K by vec_id),
not a global sort. The elementwise-rounded exact d² costs d× a float
matmul — the audit-pass price, as q48h documents; a production
encoder would run the same plan with float d² and the fitted
codebooks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_M = 8       # subspaces
_KCB = 16    # codewords per subspace

# SQL twin of the exact e12 squared-distance contract (q48h text shape,
# re-derived inline — see module docstring).
_D2_E12_SQL = (
    "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
    "CAST(round((CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
    "(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * 1e12) AS BIGINT)))"
    " AS BIGINT)"
)

_D2_E12_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "cast(round((cast(x as double) - cast(y as double)) * "
    "(cast(x as double) - cast(y as double)) * 1e12) as bigint)), "
    "cast(0 as bigint), (acc, v) -> acc + v)"
)

_Q139_ORACLE = (
    "WITH p AS (SELECT len(embedding) // "
    f"{_M} AS sl FROM embeddings LIMIT 1), "
    "cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) "
    "- 1 AS code_id, embedding AS cvec FROM embeddings "
    f"QUALIFY row_number() OVER (ORDER BY vec_id) <= {_KCB}), "
    f"ms AS (SELECT unnest(range({_M})) AS m), "
    "subcb AS (SELECT m, code_id, "
    "list_slice(cvec, m * sl + 1, m * sl + sl) AS csub FROM cb, ms, p), "
    "ex AS (SELECT vec_id, m, "
    "list_slice(embedding, m * sl + 1, m * sl + sl) AS vsub "
    "FROM embeddings, ms, p), "
    "d AS (SELECT vec_id, ex.m, code_id, "
    + _D2_E12_SQL.format(a="vsub", b="csub")
    + " AS d2 FROM ex JOIN subcb ON ex.m = subcb.m), "
    "pick AS (SELECT vec_id, m, code_id, d2 FROM d "
    "QUALIFY row_number() OVER (PARTITION BY vec_id, m "
    "ORDER BY d2 ASC, code_id ASC) = 1) "
    "SELECT vec_id, "
    "CAST(sum(code_id * (CAST(1 AS BIGINT) << (4 * m))) AS BIGINT) "
    "AS pq_code, "
    "CAST(sum(d2) AS BIGINT) AS recon_d2_e12 "
    "FROM pick GROUP BY vec_id ORDER BY vec_id"
)

_Q139_DESCRIPTION = (
    "Q139: product-quantization encode audit — M=8 subspaces, K=16 "
    "injected codewords (the lowest-vec_id corpus vectors' sub-slices, "
    "the q48h/q130 injected-centroid discipline): per-subspace exact "
    "e12 argmin (ties to lowest code), the 4-bit codes packed into one "
    "BIGINT code word, integer reconstruction error — the "
    "32x-compression leg of the ANN family, bit-reproducible in plain "
    "SQL. Scale-correct: broadcast codebook, ONE corpus pass, full "
    "vectors never shuffle (window keys are (vec_id, m) only), "
    "TakeOrdered codebook selection — never a global sort."
)


def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    return pq_encode(emb)


def _sub_slices(df: DataFrame, id_col: str, vec_col: str,
                out_id: str, out_sub: str, m_sub: int) -> DataFrame:
    """Explode a vector frame into its per-subspace slices. The slice
    length derives from the CALL's ``m_sub`` (not the module default —
    a hardcoded default here would silently truncate the vector for
    any other subspace count)."""
    sl = f"(size(_vec) div {m_sub})"
    sub = f"slice(_vec, cast(m * {sl} + 1 as int), cast({sl} as int))"
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(F.expr(f"sequence(0, {m_sub - 1})")).alias("m"),
        F.col(vec_col).alias("_vec"),
    ).select(
        out_id, "m",
        F.expr(sub).alias(out_sub),
    )


def pq_subcodebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = _M,
    k_codes: int = _KCB,
) -> DataFrame:
    """The injected per-subspace codebooks: the ``k_codes``
    lowest-``id_col`` corpus vectors' sub-slices as
    (m, code_id, csub). TakeOrdered (distributed) — never a global
    sort."""
    cb = corpus.select(id_col, vec_col).orderBy(id_col).limit(k_codes)
    cbw = cb.select(
        (F.row_number().over(Window.orderBy(id_col)) - 1)
        .cast("long").alias("code_id"),
        F.col(vec_col).alias("cvec"),
    )
    return _sub_slices(cbw, "code_id", "cvec", "code_id", "csub",
                       m_sub).select("m", "code_id", "csub")


def pq_assign(
    corpus: DataFrame,
    subcb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = _M,
) -> DataFrame:
    """Per-(vector, subspace) nearest-codeword assignment under the
    exact e12 d² contract (ties → lowest code_id). Returns
    (vid, m, code_id, d2)."""
    ex = _sub_slices(corpus, id_col, vec_col, "vid", "vsub", m_sub)
    d = ex.join(F.broadcast(subcb), "m").select(
        "vid", "m", "code_id",
        F.expr(_D2_E12_SPARK.format(a="vsub", b="csub")).alias("d2"),
    )
    w = Window.partitionBy("vid", "m").orderBy(
        F.col("d2").asc(), F.col("code_id").asc())
    return d.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1).drop("rn")


def pq_encode(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = _M,
    k_codes: int = _KCB,
) -> DataFrame:
    """PQ-encode ``corpus`` against injected codebooks (the ``k_codes``
    lowest-``id_col`` vectors' sub-slices). Returns one row per vector:
    (id, packed BIGINT code word — nibble m at bit 4m — and the exact
    e12 recon error).
    """
    subcb = pq_subcodebooks(corpus, id_col, vec_col, m_sub, k_codes)
    pick = pq_assign(corpus, subcb, id_col, vec_col, m_sub)
    return (
        pick.groupBy("vid")
        .agg(
            F.sum(
                F.expr("code_id * shiftleft(cast(1 as bigint), 4 * m)")
            ).cast("long").alias("pq_code"),
            F.sum("d2").cast("long").alias("recon_d2_e12"),
        )
        .select(F.col("vid").alias("vec_id"), "pq_code", "recon_d2_e12")
        .orderBy("vec_id")
    )


_ADC_K = 5
_N_QUERIES = 10  # the q48-family audited query slice (vec_id < 10)

_Q141_ORACLE = (
    "WITH p AS (SELECT len(embedding) // "
    f"{_M} AS sl FROM embeddings LIMIT 1), "
    "cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) "
    "- 1 AS code_id, embedding AS cvec FROM embeddings "
    f"QUALIFY row_number() OVER (ORDER BY vec_id) <= {_KCB}), "
    f"ms AS (SELECT unnest(range({_M})) AS m), "
    "subcb AS (SELECT m, code_id, "
    "list_slice(cvec, m * sl + 1, m * sl + sl) AS csub FROM cb, ms, p), "
    "ex AS (SELECT vec_id, m, "
    "list_slice(embedding, m * sl + 1, m * sl + sl) AS vsub "
    "FROM embeddings, ms, p), "
    "d AS (SELECT vec_id, ex.m, code_id, "
    + _D2_E12_SQL.format(a="vsub", b="csub")
    + " AS d2 FROM ex JOIN subcb ON ex.m = subcb.m), "
    "pick AS (SELECT vec_id, m, code_id FROM d "
    "QUALIFY row_number() OVER (PARTITION BY vec_id, m "
    "ORDER BY d2 ASC, code_id ASC) = 1), "
    "qx AS (SELECT vec_id AS q_id, m, "
    "list_slice(embedding, m * sl + 1, m * sl + sl) AS qsub "
    f"FROM embeddings, ms, p WHERE vec_id < {_N_QUERIES}), "
    "dtab AS (SELECT q_id, subcb.m, code_id, "
    + _D2_E12_SQL.format(a="qsub", b="csub")
    + " AS qd2 FROM qx JOIN subcb ON qx.m = subcb.m), "
    "adc AS (SELECT q_id, pick.vec_id AS n_id, "
    "CAST(sum(qd2) AS BIGINT) AS adc_d2_e12 "
    "FROM pick JOIN dtab ON pick.m = dtab.m "
    "AND pick.code_id = dtab.code_id "
    "WHERE pick.vec_id != dtab.q_id GROUP BY q_id, pick.vec_id) "
    "SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id "
    "ORDER BY adc_d2_e12 ASC, n_id ASC) AS BIGINT) AS rank, "
    "n_id, adc_d2_e12 FROM adc "
    f"QUALIFY rank <= {_ADC_K} ORDER BY q_id, rank"
)

_Q141_DESCRIPTION = (
    "Q141: PQ asymmetric-distance (ADC) top-5 — the SERVING leg of "
    "product quantization: each query builds its tiny (M x K) "
    "distance table against the injected sub-codebooks under the "
    "exact e12 d2 contract, and every corpus vector is scored as the "
    "SUM OF TABLE LOOKUPS over its assigned codes — the corpus is "
    "scanned as codes, never as vectors. Integer-exact throughout "
    "(table entries and sums are e12 BIGINTs; ties -> lowest "
    "neighbor id), full value oracle. Scale-correct: distance tables "
    "broadcast (Q*M*K rows), assignments flow map-side into the "
    "per-(query, vector) combine; full vectors appear only in the "
    "one assignment pass q139 already audits."
)


def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    return pq_adc_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), k=_ADC_K)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = _M,
    k_codes: int = _KCB,
    k: int = _ADC_K,
) -> DataFrame:
    """PQ ADC scan: score every corpus vector for every query as the
    sum of per-subspace distance-table lookups over its assigned
    codes; per-query top-k (adc ASC, id ASC), self excluded."""
    # two consumers (corpus assignment + query distance tables) ->
    # cache the tiny (M*K)-row codebook frame
    subcb = pq_subcodebooks(corpus, id_col, vec_col, m_sub,
                            k_codes).cache()
    assign = pq_assign(corpus, subcb, id_col, vec_col, m_sub).select(
        "vid", "m", "code_id")
    qx = _sub_slices(queries, id_col, vec_col, "q_id", "qsub", m_sub)
    dtab = qx.join(F.broadcast(subcb), "m").select(
        "q_id", "m", "code_id",
        F.expr(_D2_E12_SPARK.format(a="qsub", b="csub")).alias("qd2"),
    )
    adc = (
        assign.join(F.broadcast(dtab), ["m", "code_id"])
        .where(F.col("vid") != F.col("q_id"))
        .groupBy("q_id", "vid")
        .agg(F.sum("qd2").cast("long").alias("adc_d2_e12"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_d2_e12").asc(), F.col("vid").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", F.col("vid").alias("n_id"),
                "adc_d2_e12")
        .orderBy("q_id", "rank")
    )


STAGED = {
    "q139_pq_encode": (q139, _Q139_ORACLE, _Q139_DESCRIPTION,
                       ("llm", "similarity")),
    "q141_pq_adc_topk": (q141, _Q141_ORACLE, _Q141_DESCRIPTION,
                         ("llm", "similarity")),
}


__all__ = ["q139", "q141", "pq_encode", "pq_adc_topk",
           "pq_subcodebooks", "pq_assign", "STAGED"]
