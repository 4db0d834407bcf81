"""Similarity search over embedding columns (SURVEY §2.C Q48).

One exact path and three approximate ones:

- **Exact brute-force top-k** (`cosine_topk_exact`): O(N·Q) — each corpus
  row meets each of the (few, broadcast) query vectors once; no shuffle
  except the final per-query top-k. The oracle-checkable reference path.
  Cross-engine determinism: dot products and norms are sums of per-element
  scaled integers (round(x·y·1e12) as int64 — identical IEEE multiply +
  half-away-from-zero round in Spark and DuckDB), so the cosine doubles
  are bit-identical and ties can't flip.
- **Sign-grid ANN** (`signgrid_ann_topk`) and sign-band near-duplicate
  pairs (`sign_band_neardup_pairs`): closed-form sign-bit blocking, then
  the same exact scaled-int cosine.
- **IVF ANN** (`ivf_topk`, `ivf_build_index` / `ivf_probe_prebuilt`,
  `ivf_scan_stats`): a seeded coarse quantizer, corpus-scaled list count
  and recall-calibrated probe width. Each IVF step — list build,
  injected-centroid audit fit, exact probe order — has one definition
  here; the injected-centroid verifiers (`ivf_scan_stats_exact`,
  queries/ann_exact.py, queries/lloyd_step.py) reuse it.
- **LSH ANN** (`ann_topk_lsh`): BucketedRandomProjectionLSH over
  L2-normalized vectors — on the unit sphere, euclidean distance is
  monotone in cosine (d² = 2 − 2cos), so nearest-by-euclidean IS
  nearest-by-cosine. ``approxNearestNeighbors``/bucket joins touch only
  candidate buckets: the sub-quadratic scale path for large query sets.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def norm_e12(vec: Column) -> Column:
    """Σ round(x²·1e12) as an exact int64 (order-independent)."""
    return F.aggregate(
        F.transform(
            vec, lambda x: F.round(x.cast("double") * x.cast("double") * 1e12).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def dot_e12(a: Column, b: Column) -> Column:
    """Σ round(xᵢ·yᵢ·1e12) as an exact int64."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: F.round(x.cast("double") * y.cast("double") * 1e12).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_from_e12(dot: Column, na: Column, nb: Column) -> Column:
    """cos = dot/(‖a‖·‖b‖); the 1e12 scales cancel exactly."""
    return dot.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def _round_nearest_ties_away_e12(p):
    """numpy replica of SQL ROUND-to-integer on a double: nearest, ties
    away from zero — the semantics BOTH engines apply to doubles (Spark
    F.round goes through BigDecimal HALF_UP on the shortest-decimal
    value; DuckDB round() is std::round). Implemented as rint (nearest,
    no pre-arithmetic) with an exact-tie correction, NOT floor(abs+0.5):
    the add in that classic idiom rounds 0.49999999999999994+0.5 up to
    1.0 before the floor, flipping values one ulp below a .5 boundary
    to 1 where both engines produce 0 (caught in round-6 review; the
    tie test is exact because representable .5 fractions are binary)."""
    import numpy as np

    r = np.rint(p)  # nearest, ties-to-even; exact (no arithmetic on p)
    t = np.trunc(p)
    ties = np.abs(p - t) == 0.5
    return np.where(ties, t + np.copysign(1.0, p), r).astype("int64")


def _norm_e12_rows(x):
    """numpy :func:`norm_e12` per row of ``x``: Σ round(xᵢ²·1e12) as int64."""
    return _round_nearest_ties_away_e12(x * x * 1e12).sum(axis=1)


_MAX_EXACT_QUERIES = 4096  # same bounded-collect contract as the IVF fit


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin a narrow input out to ``defaultParallelism`` when the
    scan produced fewer splits than the cluster has cores.

    The Arrow scoring passes downstream are CPU-heavy numpy, and so are
    the tokenize→shingle projections of q89/q89b/q95; a small parquet
    input (one ~1 MB split at sf0.1) would otherwise run the whole pass
    on a single core while the other 31 idle (r16 measurement: q48h
    43.9 s / q130 28.3 s isolated medians with the pass single-task).
    At warehouse scale the scan already has ≥ cores splits and this is
    a no-op — scale-adaptive, not a local tuning constant (the
    dedup._inverted_index_common precedent). Results are unchanged:
    every downstream aggregate/score is row-local or order-independent
    by the exact-integer contract."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def cosine_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries`` is small by contract (bounded driver collect, ≤4096 —
    the same seam as the IVF quantizer sample); every corpus partition
    scores its rows against all queries locally in one Arrow-batched
    numpy pass — the only shuffle is the per-query top-k window over
    N·Q scored rows. Self-pairs are excluded. Deterministic: ties
    broken by neighbor id.

    Cross-engine determinism is the SAME integer contract as
    :func:`dot_e12`/:func:`norm_e12` — Σ round(xᵢ·yᵢ·1e12) as int64,
    with round = nearest-ties-away replicated exactly in numpy
    (rint + exact-tie correction, see `_round_nearest_ties_away_e12`), so
    cosines stay bit-identical to the DuckDB oracle. The numpy path replaces a Catalyst higher-order-
    function evaluation of N·Q·dim lambda calls (interpreted, ~10×
    slower at 100 audited queries × 2000 corpus rows); the math is
    unchanged.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
    ).collect()
    if len(qrows) > _MAX_EXACT_QUERIES:
        raise ValueError(
            f"cosine_topk_exact: {len(qrows)} query vectors exceed the "
            f"small-by-contract bound {_MAX_EXACT_QUERIES}; use the ANN "
            "paths (ivf_topk / signgrid_ann_topk) for large query sets"
        )
    if not qrows:
        # the old broadcast-join path returned empty for an empty query
        # set; keep that contract instead of a numpy shape error
        return local_frame(
            corpus.sparkSession, [],
            "q_id long, rank long, n_id long, cosine double",
        )
    q_ids = np.asarray([r["q_id"] for r in qrows], dtype="int64")
    q_mat = np.asarray(
        [np.asarray(r["q_vec"], dtype="float64") for r in qrows]
    )  # (Q, dim)
    q_norm = _norm_e12_rows(q_mat)  # (Q,)
    q_sqrt = np.sqrt(q_norm.astype("float64"))

    # per-element round BEFORE the sum is the integer contract, so the
    # dot is an elementwise (rows, queries, dim) product, not a matmul —
    # chunk BOTH axes so the working set stays ~tens of MB per python
    # worker regardless of Arrow batch size or the 4096-query bound
    # (unchunked at that bound a 10k-row batch is a ~21 GB temporary)
    _ROW_CHUNK, _Q_CHUNK = 1024, 64

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            all_x = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["n_vec"]]
            )  # (B, dim)
            all_ids = pdf["n_id"].to_numpy()
            nq = len(q_ids)
            for rs in range(0, len(all_x), _ROW_CHUNK):
                x = all_x[rs:rs + _ROW_CHUNK]
                n_ids = all_ids[rs:rs + _ROW_CHUNK]
                n_norm = _norm_e12_rows(x)
                dots = np.empty((len(x), nq), dtype="int64")
                for qs in range(0, nq, _Q_CHUNK):
                    qe = min(qs + _Q_CHUNK, nq)
                    dots[:, qs:qe] = _round_nearest_ties_away_e12(
                        x[:, None, :] * q_mat[None, qs:qe, :] * 1e12
                    ).sum(axis=2)
                cos = dots.astype("float64") / (
                    np.sqrt(n_norm.astype("float64"))[:, None] * q_sqrt[None, :]
                )
                b = len(x)
                yield pd.DataFrame(
                    {
                        "q_id": np.tile(q_ids, b),
                        "n_id": np.repeat(n_ids, nq),
                        "cosine": cos.reshape(-1),
                    }
                )

    feats = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    )
    feats = _spread_small_input(feats)
    scored = (
        feats.mapInPandas(score, "q_id long, n_id long, cosine double")
        .where(F.col("n_id") != F.col("q_id"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "n_id", "cosine")
    )


# sign-band blocking of sign_band_neardup_pairs: 4 bands of 12 sign bits
# from projections seeded with 7 (collision odds in its docstring)
_SIGN_BANDS = 4
_SIGN_BITS = 12
_SIGN_SEED = 7


def sign_band_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-duplicate pairs: sign-band blocking + exact verify.

    Candidate generation is SimHash-for-vectors: each vector hashes to
    ``_SIGN_BANDS`` band-codes, each the ``_SIGN_BITS`` sign bits of fixed
    seeded random projections; candidates are pairs sharing any (band,
    code) bucket. For a pair at angle θ a bit agrees with prob 1−θ/π, so
    near-identical pairs (θ≈0) collide in some band with prob ≈1−(bits·θ/π)^bands
    (≈1−1e-9 for planted dups) while orthogonal pairs collide with prob
    ≈ bands·2^−bits (≈1e-3) — the candidate set stays ~linear in N where a
    single-projection bucket join degrades to all-pairs (pyspark.ml's
    BucketedRandomProjectionLSH approxSimilarityJoin measured 92% pair
    coverage at bucketLength=0.5 on unit vectors: unusable here). Exact
    scaled-int cosine then decides membership, so output semantics are
    exact given candidate coverage.

    Band codes are computed by an Arrow-batched numpy matmul (one
    (batch×dim)·(dim×bands·bits) product per batch) — the documented
    "drop to pandas UDF" case: expressing bands·bits dot products as
    column expressions bloats the plan with thousands of literals and
    dominates runtime with analysis/codegen, while the batched matmul is
    one BLAS call. Candidates then come from one equi-join on (band,
    code); verification stays JVM-side.
    """
    import numpy as np

    bands, bits = _SIGN_BANDS, _SIGN_BITS
    weights = (1 << np.arange(bits)).astype("int64")

    def codes(batches):
        # Projections are derived lazily from the first batch's dim with a
        # fixed seed — identical on every executor, and no driver-side
        # one-row action to learn the dimension.
        proj_flat = None
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["__vec"]]
            )  # (n, dim)
            if proj_flat is None:
                rng = np.random.RandomState(_SIGN_SEED)
                proj_flat = rng.standard_normal(
                    (bands, bits, x.shape[1])
                ).reshape(bands * bits, x.shape[1]).T  # (dim, bands*bits)
            signs = (x @ proj_flat) > 0  # (n, bands*bits)
            band_codes = (
                signs.reshape(len(pdf), bands, bits) @ weights
            )  # (n, bands)
            out = pdf.loc[pdf.index.repeat(bands)].reset_index(drop=True)
            out["band"] = np.tile(np.arange(bands), len(pdf))
            out["code"] = band_codes.reshape(-1)
            yield out

    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("__vec"),
        norm_e12(F.col(vec_col)).alias("__nrm"),
    )
    hashed = base.mapInPandas(
        codes,
        "doc_id long, __vec array<float>, __nrm long, band int, code long",
    ).persist()  # both self-join sides read this — without the persist the
    # Arrow matmul stage (and the upstream scan) executes twice
    a = hashed.select("band", "code", F.col("doc_id").alias("id_a"),
                      F.col("__vec").alias("va"), F.col("__nrm").alias("na"))
    b = hashed.select("band", "code", F.col("doc_id").alias("id_b"),
                      F.col("__vec").alias("vb"), F.col("__nrm").alias("nb"))
    cand = (
        a.join(b, ["band", "code"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "na", "nb")
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a",
        "id_b",
        cosine_from_e12(
            dot_e12(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")
        ).alias("cosine"),
    ).where(F.col("cosine") >= cosine_threshold)


# q48e's sign-grid operating point: 9 bands of 7 sign bits, with the
# Hamming-1 multi-probe ring on the query side (see signgrid_ann_topk).
_GRID_BANDS = 9
_GRID_BITS = 7


def signgrid_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Deterministic sign-grid ANN: band ``j``'s bucket code is the sign
    bits of coordinates ``j·bits .. j·bits+bits-1``; candidates are pairs
    sharing any (band, code) bucket; exact scaled-int cosine re-ranks and
    keeps the top ``k`` per query (fewer if the buckets yield fewer — the
    honest ANN contract). Multi-probe: the QUERY side also emits every
    code at Hamming distance 1 (``bits`` extra rows per band — still
    broadcast-size), so a band matches when the codes differ in at most
    one bit; the corpus side is untouched. The layout is fixed at
    ``_GRID_BANDS`` × ``_GRID_BITS`` (9 × 7), q48e's operating point.

    Operating points measured on the testdata embeddings at
    sf0.001/0.01/0.1 (recall@5 vs brute force @ candidate fraction of
    all query-corpus pairs; ``tools/sweep_signgrid.py``):

    ==========================  =====================  ==================
    config (bands × bits)       recall@5 (3 SFs)       candidate fraction
    ==========================  =====================  ==================
    11×5, exact                 0.62 / 0.68 / 0.70     0.29–0.30
    10×6, exact                 0.40-class             ~0.14
    9×7, Hamming-1 (SHIPPED)    0.78 / 0.78 / 0.84     ~0.44
    16×4, exact                 0.88 / 0.92 / 0.92     ~0.65
    9×6, Hamming-1              – / 0.92 / 0.96        ~0.65
    10×6, Hamming-1             – / 0.94 / 0.96        ~0.69
    11×5, Hamming-1             – / 1.00 / 1.00        ~0.90
    ==========================  =====================  ==================

    9×7 multi-probe dominates 16×4 (more recall per candidate): higher
    recall than 11×5 exact for 1.5× its scoring, still 2.3× cheaper than
    brute force.

    **q48e's DECLARED recall floor: recall@5 ≥ 0.78 across the testdata
    SFs, measured 0.84 at sf0.1** — pinned with the same standing as the
    q48c/q48d 0.98 recall gates (all ride every bench as
    ``ann_recall_at_5``; pytest floor:
    tests/test_llm_ops.py::test_q48e_signgrid_recall_vs_exact). The
    corner sweep (rows above) shows what lifting q48e to ≥ 0.95 would
    cost: the cheapest such points (9×6/10×6 probed) scan 0.65–0.69 of
    all query–corpus pairs — barely sub-brute-force, defeating the
    operator's purpose. q48e's role in the family is EVIDENCE, not peak
    recall: it is the one ANN member whose end-to-end result its DuckDB
    oracle hash-verifies (no RNG, no fit), while the IVF members (q48c/d) own
    the high-recall role at genuinely sub-linear scan cost. A recall
    regression therefore fails pytest; a silent operating-point
    degradation cannot hide.

    The blocking (and the Hamming-1 probe ring, a closed-form XOR per
    bit) is a pure projection ANY engine can compute, so a DuckDB oracle
    can hash-verify the END-TO-END result (the random-projection / KMeans
    blocking of `ann_topk_lsh` / `ivf_topk` is not SQL-expressible,
    leaving them rows-only-checkable). Recall follows SimHash banding:
    correlated vectors agree on sign bits, so true neighbors collide in
    some band with high probability while random pairs collide at
    ≈ bands·(1+bits)·2^−bits.

    Scale: queries broadcast (bands·(1+bits) rows each), so the corpus
    side — ``bands`` rows per vector — joins with NO shuffle; only scored
    (q_id, n_id, cosine) triples reach the dedup + per-query top-k
    shuffles. Requires vector dim >= bands·bits = 63.
    """
    bands, bits = _GRID_BANDS, _GRID_BITS

    def coded(df: DataFrame, prefix: str, probe: bool = False) -> DataFrame:
        vec = F.col(vec_col)
        # Two-step projection: compute each band's sign code ONCE (a
        # bits-deep when-chain), then build the (band, code[, probe
        # ring]) structs off the materialized codes ARRAY. Inlining the
        # chains into every struct (the pre-r7 shape) made the explode
        # expression bands x (1 + bits x probe) chains wide, and Janino
        # recompiles that tree per plan; multi-use non-trivial aliases
        # survive CollapseProject, so the split stays two Projects.
        band_codes = []
        for j in range(bands):
            code: Column = F.lit(0)
            for t in range(bits):
                code = code + F.when(
                    F.element_at(vec, j * bits + t + 1) > 0, F.lit(1 << t)
                ).otherwise(F.lit(0))
            band_codes.append(code.cast("long"))
        with_codes = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            vec.alias(f"{prefix}_vec"),
            F.array(*band_codes).alias("_codes"),
        )
        structs = []
        for j in range(bands):
            code = F.element_at(F.col("_codes"), j + 1)
            variants = [code] if not probe else [
                code, *(code.bitwiseXOR(F.lit(1 << t)) for t in range(bits))
            ]
            structs.extend(
                F.struct(F.lit(j).alias("band"), v.cast("long").alias("code"))
                for v in variants
            )
        return with_codes.select(
            f"{prefix}_id", f"{prefix}_vec",
            F.explode(F.array(*structs)).alias("bc"),
        ).select(
            f"{prefix}_id", f"{prefix}_vec", "bc.band", "bc.code",
        )

    # dedup the candidate PAIR before scoring: a pair colliding in
    # several bands (true neighbors collide in many — more still under
    # multi-probe) must pay the dim-length dot product ONCE, not once
    # per collision — scoring pre-dedup measured q48e at 2x its r6 cost
    # when the r7 multi-probe promotion multiplied collisions per pair.
    # The match uses a codes-only broadcast (Catalyst prunes the unused
    # query vector/norm out of its coded() branch) so the pair-dedup
    # exchange carries one copy of the corpus vector and no query
    # vector; query features re-attach from a Q-row broadcast afterward.
    qc = coded(queries, "q", probe=True)
    q_codes = F.broadcast(qc.select("q_id", "band", "code"))
    # one feature row per query id: the candidate-pair dedup runs BEFORE
    # this join, so a duplicated id row in the queries frame would fan
    # each deduped pair back out into duplicate scored rows — and
    # duplicate n_ids in the top-k (the pre-r7 score-then-dedup order
    # tolerated duplicated query rows; keep that contract)
    q_feats = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
        ).dropDuplicates(["q_id"])
    )
    # Candidate scoring runs as one Arrow-batched numpy pass per
    # partition (row-aligned pair scoring — no Q x N blowup) under the
    # SAME integer contract as dot_e12/norm_e12, replicated exactly by
    # _round_nearest_ties_away_e12 (the q48 exact-scorer precedent:
    # Catalyst higher-order lambdas stay interpreted — never
    # whole-stage-codegen'd — and measured ~3x the Arrow pass on the
    # candidate volume the promoted multi-probe point produces). Still
    # fully distributed: no driver collect anywhere on this path.
    import numpy as np
    import pandas as pd

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["n_vec"]]
            )
            qv = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["q_vec"]]
            )
            nn = _norm_e12_rows(x)
            qn = _norm_e12_rows(qv)
            dots = _round_nearest_ties_away_e12(x * qv * 1e12).sum(axis=1)
            cos = dots.astype("float64") / (
                np.sqrt(nn.astype("float64")) * np.sqrt(qn.astype("float64"))
            )
            yield pd.DataFrame(
                {"q_id": pdf["q_id"], "n_id": pdf["n_id"], "cosine": cos}
            )

    # id dtypes pass through the Arrow stage as-is (string/int ids both
    # valid — the pre-r7 pure-Column pipeline was id-type-generic and the
    # mapInPandas rewrite must not narrow that to long)
    q_id_t = queries.schema[id_col].dataType.simpleString()
    n_id_t = corpus.schema[id_col].dataType.simpleString()
    scored = (
        coded(corpus, "n")
        .join(q_codes, ["band", "code"])
        .where(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", "n_vec")
        .dropDuplicates(["q_id", "n_id"])
        .join(q_feats, "q_id")
        .mapInPandas(_score, f"q_id {q_id_t}, n_id {n_id_t}, cosine double")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "n_id", "cosine")
    )


# Layout version of an ivf_build_index directory, stored in its ``params``
# table (``index_version``). It is not a cache key: persisted indexes are
# keyed by the package's code fingerprint (scratch.py). v4 introduced the
# params table (corpus-scaled n_lists + recall-calibrated n_probe); v5
# computes the fit and calibration distances through the row-chunked
# _argmin_d2.
IVF_INDEX_VERSION = 5

# recall@k the probe width is calibrated to on the fit sample (VERDICT r8
# #2: the fixed 16-list/4-probe point measured recall@5 = 0.48 at sf0.1
# and degraded monotonically with corpus size). Recall alone can be
# bought by probing everything, so the calibrated width and the measured
# scan cost travel together — see :func:`ivf_scan_stats`, which bench.py
# records next to the recall.
IVF_RECALL_TARGET = 0.9

# seed of the quantizer's fit sample, Lloyd init and probe calibration,
# and the Lloyd iteration count: rebuilding from the same corpus
# reproduces the same index
_IVF_SEED = 42
_IVF_FIT_ITERS = 4


def ivf_operating_point(n_corpus: int) -> int:
    """Corpus-scaled list count: ``n_lists ≈ √N``, clamped to [8, 4096].

    The classic IVF sizing — it balances list length (N/√N = √N candidates
    per probed list) against the broadcast centroid table (√N rows), so
    BOTH stay sub-linear as the corpus grows. The fixed ``n_lists=16``
    this replaces quantized ever more coarsely as N grew and recall@5 fell
    0.64 → 0.48 from sf0.01 to sf0.1 in the r8 driver record. The 4096
    cap bounds the driver-side fit (see :func:`_fit_sample_for`) and the
    broadcast; past it, recall is held by the probe calibration instead of
    finer quantization."""
    return max(8, min(int(round(math.sqrt(max(n_corpus, 1)))), 4096))


def _fit_sample_for(n_lists: int) -> int:
    """Fit-sample size for a given list count: ≥ 32 training vectors per
    centroid (the usual k-means sizing floor), bounded at 65536 so the
    one-time driver-side fit collect stays ≤ 65536 × d floats (~32 MB at
    d=64) no matter how large the corpus is."""
    return min(max(4096, 32 * n_lists), 65536)


def _featurize(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        norm_e12(F.col(vec_col)).alias("nrm"),
    )


def _argmin_d2(x, cent, c2):
    """Row-chunked nearest-centroid argmin over ‖c‖² − 2x·c (the matmul
    identity with the per-row ‖x‖² dropped — constant under argmin).
    Bounds the working set to a ~64 MB chunk×L slice instead of the full
    N×L distance matrix: at the v4 caps (sample 65536, L 4096) the full
    matrix is ~2.1 GB of float64 PER CALL — the driver-side spike
    ADVICE r9 #1 flagged even though the sample itself is bounded."""
    import numpy as np

    out = np.empty(len(x), dtype="int64")
    step = max(256, (1 << 23) // max(len(cent), 1))
    for s in range(0, len(x), step):
        e = min(s + step, len(x))
        out[s:e] = (c2[None, :] - 2.0 * (x[s:e] @ cent.T)).argmin(axis=1)
    return out


def _lloyd(x, n_lists: int, seed: int, iters: int):
    """Seeded Lloyd's iterations on an in-memory sample; returns the
    (≤ n_lists, d) centroid array. Distances go through the row-chunked
    :func:`_argmin_d2` (the previous full-matrix form materialized an
    N×L float64 intermediate — ~2.1 GB per iteration at the v4 caps;
    the broadcasting form before THAT was N×L×d, ~130 GB).
    Centroid updates are scatter-adds, O(N·d) per iteration."""
    import numpy as np

    # fewer points than lists: every point is its own centroid — the same
    # clamped degradation ml.KMeans applied (k capped by distinct points)
    n_lists = min(n_lists, len(x))
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=n_lists, replace=False)].copy()
    for _ in range(iters):
        assign = _argmin_d2(x, cent, (cent * cent).sum(axis=1))
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, x)
        counts = np.bincount(assign, minlength=len(cent))
        nz = counts > 0
        cent[nz] = sums[nz] / counts[nz, None]
    return cent


def _fit_quantizer(corpus: DataFrame, vec_col: str, n_lists: int, n: int):
    """Coarse-quantizer fit on a bounded seeded sample; returns
    ``(centroids, sample)`` — the sample array is reused by
    :func:`_calibrate_n_probe` so calibration costs no extra Spark job.

    The quantizer needs only a sketch of the distribution, so the fit
    input is <= :func:`_fit_sample_for` vectors BY CONSTRUCTION — one
    bounded driver collect, then numpy Lloyd's iterations that finish in
    milliseconds-to-seconds where an ml.KMeans fit paid per-iteration job
    scheduling. The ONLY full-corpus pass of an IVF build remains the
    assignment. At warehouse scale the sample would come from a
    maintained sample table; the seam is this function."""
    import numpy as np

    fit_sample_size = _fit_sample_for(n_lists)
    s = (
        corpus.select(vec_col)
        if n <= fit_sample_size
        else corpus.select(vec_col).sample(
            fraction=min(1.0, fit_sample_size / n), seed=_IVF_SEED
        )
    )
    x = np.asarray([r[0] for r in s.collect()], dtype="float64")
    if len(x) == 0:
        raise ValueError(
            f"IVF quantizer fit: corpus column {vec_col!r} produced an "
            f"empty sample (corpus rows={n}) — cannot fit any centroids"
        )
    cent = _lloyd(x, n_lists, _IVF_SEED, _IVF_FIT_ITERS)
    return [[float(v) for v in row] for row in cent], x


def _calibrate_n_probe(
    x,
    centroids,
    target: float = IVF_RECALL_TARGET,
    k: int = 5,
    n_cal: int = 64,
    seed: int = 42,
) -> int:
    """Smallest ``n_probe`` whose recall@k reaches ``target`` on seeded
    calibration queries drawn from the fit sample.

    Mechanism: for each calibration query, take its exact top-k within the
    sample and record the probe RANK of each true neighbor's list (rank 1
    = the query's nearest centroid, matching the engine's deterministic
    d2-asc/list-id-asc probe order). recall(n_probe) is the fraction of
    neighbor ranks ≤ n_probe, so the answer is the target-quantile of the
    rank distribution — no per-n_probe search. This is what makes the
    operating point self-tuning at any scale: on clusterable corpora true
    neighbors share the query's nearest lists and the quantile lands at a
    few probes; on near-uniform corpora (the synthetic test embeddings —
    the worst case for ANY partitioning index) it honestly widens the
    probe to hold the recall target, and :func:`ivf_scan_stats` reports
    the cost it paid."""
    import numpy as np

    cent = np.asarray(centroids, dtype="float64")
    n_rows = len(x)
    n_lists = len(cent)
    if n_rows < 2 or n_lists == 1:
        return 1
    rng = np.random.RandomState(seed + 1)
    qi = rng.choice(n_rows, size=min(n_cal, n_rows), replace=False)
    c2 = (cent * cent).sum(axis=1)
    # assignment goes through the row-chunked argmin (ADVICE r9 #1 —
    # the previous shared full n_rows × n_lists matmul peaked at ~2.1 GB
    # at the v4 caps); the calibration queries' centroid distances are a
    # tiny (n_cal × n_lists) product computed once here
    assign = _argmin_d2(x, cent, c2)
    xc_cal = x[qi] @ cent.T
    nrm = np.sqrt((x * x).sum(axis=1))
    nrm[nrm == 0.0] = 1.0
    list_ids = np.arange(n_lists)
    ranks = []
    for row, i in enumerate(qi):
        cos = (x @ x[i]) / (nrm * nrm[i])
        cos[i] = -np.inf
        topk = np.argsort(-cos, kind="stable")[: min(k, n_rows - 1)]
        qd2 = c2 - 2.0 * xc_cal[row]
        order = np.lexsort((list_ids, qd2))  # d2 asc, list_id asc
        pos = np.empty(n_lists, dtype="int64")
        pos[order] = np.arange(1, n_lists + 1)
        ranks.extend(int(pos[assign[j]]) for j in topk)
    ranks = np.sort(np.asarray(ranks))
    idx = max(min(int(math.ceil(target * len(ranks))) - 1, len(ranks) - 1), 0)
    return int(ranks[idx])


def _assign_lists(feats: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Append ``list_id`` = nearest-centroid index to a (n_id, n_vec,
    n_norm) frame: Arrow-batched argmin via one matmul per batch
    (‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²; ‖x‖² is constant per row, so argmin over
    ``‖c‖² − 2x·c`` suffices). Ties → lowest list id (np.argmin), matching
    the probe's deterministic centroid ranking."""
    import numpy as np

    cent = np.asarray(centroids, dtype="float64")
    c2 = (cent * cent).sum(axis=1)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                # np.asarray([]) has shape (0,); the matmul below would
                # raise a dimension mismatch on an empty Arrow batch.
                yield pdf.assign(list_id=pd.Series([], dtype="int32"))
                continue
            x = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["n_vec"]]
            )
            out = pdf.copy()
            out["list_id"] = (c2[None, :] - 2.0 * (x @ cent.T)).argmin(axis=1)
            yield out

    return feats.mapInPandas(
        assign, "n_id long, n_vec array<float>, n_norm long, list_id int"
    )


def _build_lists(corpus: DataFrame, id_col: str, vec_col: str, k: int):
    """The float IVF list build shared by the inline query
    (:func:`ivf_topk`), the offline index (:func:`ivf_build_index`) and
    the scan-cost probe (:func:`ivf_scan_stats`): corpus-scaled
    ``n_lists`` (:func:`ivf_operating_point`), quantizer fit,
    recall-calibrated ``n_probe``, the corpus assignment pass, and the
    ``(list_id, centroid)`` frame. All seeded, so every caller derives
    the SAME point from the same corpus (q48d's prebuilt == q48c's
    inline is pytest-pinned). Returns ``(assigned, centroid_frame,
    n_lists, n_probe, n_corpus)``."""
    n = corpus.count()
    centroids, x = _fit_quantizer(corpus, vec_col, ivf_operating_point(n), n)
    n_probe = _calibrate_n_probe(
        x, centroids, target=IVF_RECALL_TARGET, k=k, seed=_IVF_SEED
    )
    feats = _featurize(corpus, id_col, vec_col).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
        F.col("nrm").alias("n_norm"),
    )
    cdf = local_frame(
        corpus.sparkSession, list(enumerate(centroids)),
        "list_id long, centroid array<double>",
    )
    n_lists = len(centroids)
    return (_assign_lists(feats, centroids), cdf, n_lists,
            min(n_probe, n_lists), n)


def _probe_lists(q: DataFrame, centroids: DataFrame, n_probe: int) -> DataFrame:
    """The probe-selection block shared by :func:`_ivf_probe` and
    :func:`ivf_scan_stats`: rank the broadcast centroids per query by
    exact d² (ties → lowest list id, matching :func:`_assign_lists`) and
    keep each query's ``n_probe`` nearest lists. ONE definition on
    purpose — the scan fraction the stats report must describe exactly
    the lists the query plan probes."""
    d2 = F.aggregate(
        F.zip_with(
            F.col("q_vec"), F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("list_id").asc())
    return (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("d2", d2)
        .withColumn("probe_rank", F.row_number().over(wq))
        .where(F.col("probe_rank") <= n_probe)
        .drop("d2", "probe_rank", "centroid")
    )


def _ivf_probe(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
) -> DataFrame:
    """Probe phase shared by the inline and prebuilt IVF paths: rank the
    broadcast centroids per query, equi-join the ``n_probe`` nearest lists
    against the assignments, exact-cosine re-rank the candidates."""
    q = _featurize(queries, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        F.col("nrm").alias("q_norm"),
    )
    probes = _probe_lists(q, centroids, n_probe).select(
        "q_id", "q_vec", "q_norm", "list_id"
    )
    scored = (
        probes.join(assigned, "list_id")
        .where(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            cosine_from_e12(
                dot_e12(F.col("q_vec"), F.col("n_vec")),
                F.col("q_norm"),
                F.col("n_norm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "n_id", "cosine")
    )


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> dict:
    """Build and persist an IVF index: ``<path>/centroids`` (n_lists rows),
    ``<path>/assigned`` (one row per corpus vector with its list id,
    written partitioned BY list id so a probe reads only its lists), and
    ``<path>/params`` (one row: the resolved operating point, so the
    online path probes at the width the build calibrated).

    This is the 100 TB deployment shape: the quantizer fit + full-corpus
    assignment pass runs ONCE (per corpus version) as an offline job; the
    online path (:func:`ivf_probe_prebuilt`) only reads the index. The
    operating point is corpus-scaled and recall-calibrated (see
    :func:`ivf_operating_point` / :func:`_calibrate_n_probe`); the seeded
    fit ⇒ rebuilding from the same corpus reproduces the index.
    Returns the persisted params row as a dict."""
    assigned, cdf, n_lists, n_probe, n = _build_lists(corpus, id_col, vec_col, k)
    (
        assigned
        # one file per inverted list (lists ≈ balanced by the quantizer):
        # probing p of L lists scans p/L of the data via partition pruning
        .repartition("list_id")
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(f"{path}/assigned")
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    params = {
        "index_version": IVF_INDEX_VERSION,
        "n_corpus": n,
        "n_lists": n_lists,
        "n_probe": n_probe,
        "recall_target": float(IVF_RECALL_TARGET),
    }
    local_frame(
        corpus.sparkSession, [tuple(params.values())],
        "index_version long, n_corpus long, n_lists long, n_probe long, "
        "recall_target double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")
    return params


def ivf_probe_prebuilt(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """ANN top-k against a prebuilt :func:`ivf_build_index` index — the
    online serving path: centroids broadcast from a tiny parquet, probed
    lists read via partition pruning, exact cosine re-rank. No fit, no
    full-corpus pass in the query. It probes at the width the BUILD
    calibrated for its recall target (persisted in ``<path>/params``)."""
    try:
        n_probe = int(spark.read.parquet(f"{path}/params").head()["n_probe"])
    except Exception as e:  # noqa: BLE001 — pre-v4 index layouts
        # version 4 INTRODUCED the params table (calibrated n_probe);
        # name it, not the current IVF_INDEX_VERSION — ADVICE r12 #1
        raise ValueError(
            f"IVF index at {path!r} has no readable params table — "
            f"it predates index version 4 (calibrated n_probe; "
            f"current IVF_INDEX_VERSION={IVF_INDEX_VERSION}). Rebuild "
            f"it with ivf_build_index."
        ) from e
    assigned = spark.read.parquet(f"{path}/assigned")
    centroids = spark.read.parquet(f"{path}/centroids")
    return _ivf_probe(assigned, centroids, queries, id_col, vec_col, k, n_probe)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantization + n-probe bucket search.

    The inverted-file index pattern: corpus vectors are assigned to
    ``n_lists`` k-means centroids (the 'inverted lists'); each query
    scores only the vectors in its ``n_probe`` nearest lists, then exact
    cosine re-ranks the candidates. Search cost drops from O(N·Q) to
    ≈ O(N·Q·n_probe/n_lists) — recall is bounded by whether a true
    neighbor's list is probed.

    Operating point (v4): ``n_lists`` scales as √N with the corpus
    (:func:`ivf_operating_point`) and ``n_probe`` is calibrated on the
    fit sample to hold :data:`IVF_RECALL_TARGET`
    (:func:`_calibrate_n_probe`) — the r8 driver record showed the
    previous fixed 16/4 point degrading monotonically with corpus size
    (recall@5 0.64 → 0.48). Index-build cost is
    amortized the way a 100 TB deployment must: the quantizer fits on a
    seeded bounded sample driver-side in numpy (:func:`_fit_quantizer`),
    calibration reuses that sample for free, and only the cheap
    Arrow-batched assignment pass touches the full corpus."""
    assigned, cdf, _, n_probe, _ = _build_lists(corpus, id_col, vec_col, k)
    return _ivf_probe(assigned, cdf, queries, id_col, vec_col, k, n_probe)


def ivf_scan_stats(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> dict:
    """Measured scan cost of the IVF operating point :func:`ivf_topk`
    would use on this corpus: resolves the SAME seeded params, then sums
    the actual probed-list sizes per query instead of scoring candidates
    — one assignment pass + a tiny (Q × n_probe) ⋈ (n_lists) join, no
    re-rank. Returns ``{n_corpus, n_queries, n_lists, n_probe,
    candidates, exhaustive, scan_frac}`` where ``scan_frac`` =
    candidates / (N·Q), the fraction of brute-force scoring the index
    pays (self-matches not excluded: ≤ Q rows, negligible). bench.py
    records this next to the driver-visible recall so the (recall, cost)
    pair is judged together — recall alone can be bought by probing
    every list."""
    assigned, cdf, n_lists, n_probe, n = _build_lists(corpus, id_col, vec_col, k)
    sizes = assigned.groupBy("list_id").count()
    q = _featurize(queries, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
    )
    probes = _probe_lists(q, cdf, n_probe).select("q_id", "list_id")
    # LEFT join (ADVICE r9 #2): a probed list with zero assigned vectors
    # has no sizes row — an inner join dropped it, and a query whose
    # probed lists were ALL empty vanished from n_queries entirely
    agg = probes.join(F.broadcast(sizes), "list_id", "left").agg(
        F.sum(F.coalesce(F.col("count"), F.lit(0))).alias("candidates"),
        F.countDistinct("q_id").alias("n_queries"),
    ).head()
    candidates = int(agg["candidates"] or 0)
    n_queries = int(agg["n_queries"] or 0)
    exhaustive = n * n_queries
    return {
        "n_corpus": n,
        "n_queries": n_queries,
        "n_lists": n_lists,
        "n_probe": n_probe,
        "candidates": candidates,
        "exhaustive": exhaustive,
        "scan_frac": round(candidates / exhaustive, 4) if exhaustive else 0.0,
    }


def _d2_e12_rows(x, cent):
    """Exact scaled-int squared distance between every row of ``x`` and
    every centroid: Σᵢ round((xᵢ−cᵢ)²·1e12) as int64, per pair — the
    dot_e12/norm_e12 contract applied to distances, replicated by the
    same SQL in both engines (per-element round BEFORE the sum, so no
    float-summation order can flip an argmin). Chunks rows so the
    (chunk, L, d) elementwise temporary stays ~64 MB."""
    import numpy as np

    n_lists, dim = cent.shape
    out = np.empty((len(x), n_lists), dtype="int64")
    step = max(16, (1 << 23) // max(n_lists * dim, 1))
    for s in range(0, len(x), step):
        e = min(s + step, len(x))
        diff = x[s:e, None, :] - cent[None, :, :]
        out[s:e] = _round_nearest_ties_away_e12(diff * diff * 1e12).sum(axis=2)
    return out


def assign_lists_e12(
    frame: DataFrame,
    cent,
    vec_col: str = "n_vec",
    keep_cols: tuple[str, ...] = (),
    norm_col: str | None = None,
) -> DataFrame:
    """ONE Arrow corpus pass appending ``list_id`` — the exact-e12
    nearest-centroid assignment recipe (``_d2_e12_rows`` argmin, ties →
    lowest list id) shared by the value-oracle twins q48g
    (ivf_scan_stats_exact), q48h (queries/ann_exact.py) and q130
    (queries/lloyd_step.py), folded here per the r16 rotation plan so
    the contract their DuckDB oracles replicate has exactly one
    definition. ``cent`` is the in-task (L, d) float64 centroid matrix
    (injected centroids are bounded: L ≤ ivf_operating_point(N) ≤ 4096,
    so it broadcasts inside the serialized closure); ``keep_cols`` ride
    through unchanged with their existing Spark types. Vectors other
    than ``keep_cols`` never shuffle — the output is keep_cols +
    ``list_id long``. ``norm_col`` (r16) additionally emits each
    vector's exact e12 norm Σ round(xᵢ²·1e12) as an int64 column —
    numerically identical to :func:`norm_e12` (same per-element
    rint-ties-away rule on the same float→double widenings), computed
    in this pass so downstream scoring never re-evaluates the
    interpreted higher-order norm per candidate row."""
    keep = list(keep_cols)
    fields = {f.name: f for f in frame.schema.fields}
    ddl = ", ".join(
        [f"{c} {fields[c].dataType.simpleString()}" for c in keep]
        + ["list_id long"]
        + ([f"{norm_col} long"] if norm_col else [])
    )

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            if not len(pdf):
                out["list_id"] = pd.Series([], dtype="int64")
                if norm_col:
                    out[norm_col] = pd.Series([], dtype="int64")
                yield out
                continue
            x = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            out["list_id"] = _d2_e12_rows(x, cent).argmin(axis=1)
            if norm_col:
                out[norm_col] = _norm_e12_rows(x)
            yield out

    return _spread_small_input(frame).mapInPandas(assign, ddl)


def _injected_centroids(corpus: DataFrame, id_col: str, vec_col: str):
    """The audit fit of the injected-centroid verifiers (q48g's
    :func:`ivf_scan_stats_exact`, q48h, q130): the
    ``ivf_operating_point(N)`` lowest-``id_col`` corpus vectors stand in
    for the k-means centroids, so a plain-SQL oracle can rebuild them.
    Returns ``(n_corpus, cent)`` with ``cent`` the (L, d) float64 matrix;
    a corpus smaller than the operating point's floor of 8 yields fewer
    rows, and an empty corpus yields shape ``(0,)``."""
    import numpy as np

    n = corpus.count()
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(ivf_operating_point(n))
        .collect()
    )
    return n, np.asarray([np.asarray(r[vec_col], dtype="float64") for r in rows])


def _exact_queries(queries: DataFrame, id_col: str, vec_col: str, caller: str):
    """The bounded query collect of the exact IVF verifiers: one row per
    distinct id (a duplicated id would double-count candidates and
    interleave probe ranks), at most :data:`_MAX_EXACT_QUERIES` of them.
    Returns ``(rows, q_mat)``: rows carry ``q_id``/``q_vec``, ``q_mat``
    is their (Q, d) float64 matrix."""
    import numpy as np

    qrows = (
        queries.dropDuplicates([id_col])
        .select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    if len(qrows) > _MAX_EXACT_QUERIES:
        raise ValueError(
            f"{caller}: {len(qrows)} query vectors exceed the "
            f"small-by-contract bound {_MAX_EXACT_QUERIES}"
        )
    return qrows, np.asarray(
        [np.asarray(r["q_vec"], dtype="float64") for r in qrows]
    )


def _probe_order_e12(q_mat, cent, n_probe: int):
    """Each query's first ``min(n_probe, L)`` list ids in probe order:
    exact e12 d² ascending, ties → lowest list id (lexsort's last key is
    primary) — the order the q48g/q48h oracles' ``row_number() OVER
    (PARTITION BY q_id ORDER BY d2, list_id)`` produces."""
    import numpy as np

    ids = np.arange(len(cent))
    width = min(n_probe, len(cent))
    return [np.lexsort((ids, d2))[:width] for d2 in _d2_e12_rows(q_mat, cent)]


def ivf_scan_stats_exact(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 8,
) -> DataFrame:
    """Value-oracled scan-stats twin of :func:`ivf_scan_stats` — the
    side-channel that gives the IVF machinery a FULL cross-engine value
    oracle (VERDICT r11 "What's wrong" #3): everything downstream of the
    quantizer fit — nearest-list assignment semantics (argmin ties →
    lowest list id), per-query probe selection and order, empty-probed-
    list handling, size aggregation, and the scan-fraction arithmetic —
    computed under the exact e12 integer contract with INJECTED
    deterministic centroids (the ``n_lists`` lowest-``id_col`` corpus
    vectors, ``n_lists`` = :func:`ivf_operating_point`), so a plain-SQL
    oracle reproduces every output bit. What remains outside the oracle
    is exactly the seeded k-means fit and the float argmin — covered by
    the q48c/q48d recall and prebuilt==inline pins.

    This is a VERIFIER, not the serving path (the q89→q89b split): the
    elementwise-rounded d² costs d× a matmul, which is fine for the
    N×√N̄ assignment at audit scale; production probing stays on
    :func:`ivf_topk`/:func:`ivf_scan_stats`.

    Returns one row per query: ``(q_id, n_corpus, n_lists, n_probe,
    probed_lists, candidates, scan_frac)`` with ``probed_lists`` a
    comma-joined string in probe order (the driver's pandas hasher
    cannot hash array cells — the q33 lesson).

    Input contract (ADVICE r12 #3): query ``id_col`` values must be
    unique per (id, vec) pair — duplicate ids are tolerated ONLY when
    they carry identical vectors (the q48g corpus, where queries are a
    slice of the keyed embeddings table, satisfies this by
    construction; tests/test_scan_stats.py pins that case). The
    ``dropDuplicates([id_col])`` in :func:`_exact_queries` keeps an
    arbitrary row, so duplicate ids with DIFFERENT vectors would be
    nondeterministic and could diverge from the SQL oracle (which never
    dedups) — that input is out of contract, not handled."""
    _EMPTY_SCHEMA = (
        "q_id long, n_corpus long, n_lists long, n_probe long, "
        "probed_lists string, candidates long, scan_frac double"
    )
    spark = corpus.sparkSession
    # bound-check the query set FIRST (like cosine_topk_exact) — an
    # oversized caller should not pay the corpus count + centroid
    # collect before being rejected
    qrows, q_mat = _exact_queries(
        queries, id_col, vec_col, "ivf_scan_stats_exact"
    )
    if not qrows:
        return local_frame(spark, [], _EMPTY_SCHEMA)
    n, cent = _injected_centroids(corpus, id_col, vec_col)
    if not len(cent):
        # empty corpus: no lists to probe — mirror the SQL twin, whose
        # empty cent CTE yields an empty result
        return local_frame(spark, [], _EMPTY_SCHEMA)
    n_lists = len(cent)
    feats = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    )

    sizes = (
        assign_lists_e12(feats, cent, keep_cols=("n_id",))
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )

    probes = local_frame(
        spark,
        [
            (int(r["q_id"]), rank + 1, int(list_id))
            for r, lists in zip(qrows, _probe_order_e12(q_mat, cent, n_probe))
            for rank, list_id in enumerate(lists)
        ],
        "q_id long, probe_rank long, list_id long",
    )
    joined = (
        # LEFT: a probed list with no assigned vectors must count 0, not
        # vanish (the same edge ivf_scan_stats' ADVICE r9 #2 fix covers)
        probes.join(F.broadcast(sizes), "list_id", "left")
        .groupBy("q_id")
        .agg(
            F.sum(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long").alias("candidates"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("probe_rank", "list_id"))
                    ),
                    lambda s: s["list_id"].cast("string"),
                ),
                ",",
            ).alias("probed_lists"),
        )
    )
    return joined.select(
        "q_id",
        F.lit(n).cast("long").alias("n_corpus"),
        F.lit(n_lists).cast("long").alias("n_lists"),
        F.lit(min(n_probe, n_lists)).cast("long").alias("n_probe"),
        "probed_lists",
        "candidates",
        (F.col("candidates").cast("double") / F.lit(float(n)))
        .alias("scan_frac"),
    ).orderBy("q_id")


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k cosine neighbors via euclidean LSH on normalized
    vectors (8 hash tables, bucket length 0.5, seed 42). Deterministic;
    recall is checked against `cosine_topk_exact` in tests (driver
    records a rows-only check — bucketing is not SQL-expressible)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    def prep(df: DataFrame, prefix: str) -> DataFrame:
        v = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            array_to_vector(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("raw"),
        )
        return Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(v)

    c = prep(corpus, "n").persist()  # join side re-reads; don't re-normalize
    q = prep(queries, "q")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=0.5, numHashTables=8, seed=42,
    )
    model = lsh.fit(c)
    # candidate pairs from bucket joins only; 2.0 covers the whole unit
    # sphere (max distance) so ranking is by true distance among candidates
    joined = model.approxSimilarityJoin(q, c, 2.0, distCol="euclid")
    w = Window.partitionBy("q_id").orderBy(F.col("euclid").asc(), F.col("n_id").asc())
    return (
        joined.select(
            F.col("datasetA.q_id").alias("q_id"),
            F.col("datasetB.n_id").alias("n_id"),
            F.col("euclid"),
        )
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "n_id", "euclid")
    )
