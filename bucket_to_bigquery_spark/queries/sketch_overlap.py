"""q89b: MinHash-estimated
source content overlap — the ESCALATION PATH q89's design note
promises: when exact pairwise shingle overlap gets hot (shared-
vocabulary corpora make the per-shingle pair fan-out approach
|sources|² on every shingle — q89 measured 3.43× wall at 10× data),
replace the shingle-level pair join with per-source MinHash signatures
whose pairwise comparison costs |sources|²·k, INDEPENDENT of corpus
size. The q48/q65 exact-vs-sketch pairing applied to set overlap: q89
stays the exact gate, this is the scale instrument.

Reference parity: n/a — no analytics surface in the reference; declared
engine surface (SURVEY §2.C extension). Shingling is
the q47-family contract (``shingles(tokens, 5)`` / ``_SH5_SQL``).

    h_i(sh) = ((2i+1)·b₁ + (i+3)·b₂ + (i+1)·1000003) mod p,
              b₁/b₂ = md5 hex halves (chars 1-8 / 9-16) as BIGINT mod p,
              p = 2³¹−1, i = 0..k−1
    sig_i(source) = min over shingles sh of h_i(sh),   k = 64
    Ĵ(a,b)        = |{i : sig_i(a) = sig_i(b)}| / k

ONE md5 per shingle anchors the family; the k components are two-
independent mixes of its two 32-bit halves — the r11 rework of the
original k-md5s-per-shingle form, which burned ~64 interpreted md5
evaluations per shingle inside nested higher-order lambdas (21 s at
sf0.1; this form measures ~5 s — the md5 count drops 64×, and every
remaining expression is a plain column op that whole-stage codegen
fuses). Two halves, not one: components share the base, so a BASE
collision aliases two shingles in every component at once — with both
halves the collision space is ~2⁶² (a single 31-bit base would start
aliasing at warehouse shingle counts and bias Ĵ upward). MinHash
theory is family-agnostic: P[sig_i(a) = sig_i(b)] = J(a,b) per
component, so the match fraction stays an unbiased estimate with
stderr √(J(1−J)/k) ≤ 0.0625 at k = 64. The estimate is DETERMINISTIC
(fixed mixing constants), so the full output — including n_match —
value-oracles exactly; only its RELATION to the true J is statistical,
and that is what the pytest band pins (the q19/q65 tolerance-made-
hashable pattern, pinned against the exact q89-side recomputation).

Scale design (100 TB): min is idempotent, so signatures need NO
distinct — shingles explode straight into a 64-expression MIN aggregate
(all codegen, map-side-combined: each task emits |sources| 64-column
partial rows, the only shuffle). Documents with no shingles (< 5
tokens, NULL text) vanish at the explode, so a source with ONLY such
docs drops from the signature frame — matching the oracle's unnest([]).
The pair comparison joins two |sources|·k frames on the component
index: |sources|²·k work, zero dependence on corpus size. This beats
q89's exact join the moment the shared-shingle mass grows — exactly
the regime q89 flags. Estimated-hot pairs then re-run the exact form
on demand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import shingles, tokens
from ..operators.materialize import checkpoint
from ..operators.similarity import _spread_small_input
from .llm_queries import _SH5_SQL, _TOKS_SQL
from .registry import query, tables

_K = 64              # signature components; stderr <= 1/(2*sqrt(k)) = 0.0625
_P = 2147483647      # 2^31 - 1 (Mersenne); keeps every mix inside int64
_B = 1000003         # odd offset prime for the additive constant

_EST_FMT = (
    "CAST(round((CAST({m} AS DOUBLE) / CAST({k} AS DOUBLE)) * 1e6) "
    "AS BIGINT)"
)

_Q89B_ORACLE = (
    f"WITH tok AS (SELECT source, {_TOKS_SQL} AS t FROM documents), "
    f"sh AS (SELECT source, unnest({_SH5_SQL}) AS sh FROM tok), "
    "base AS (SELECT source, CAST(('0x' || substr(md5(sh), 1, 8)) "
    f"AS BIGINT) % {_P} AS h1, CAST(('0x' || substr(md5(sh), 9, 8)) "
    f"AS BIGINT) % {_P} AS h2 FROM sh), "
    "comp AS (SELECT source, i, "
    f"min(((2 * i + 1) * h1 + (i + 3) * h2 + (i + 1) * {_B}) % {_P}) "
    "AS sig "
    f"FROM base CROSS JOIN range({_K}) r(i) GROUP BY source, i), "
    "pairs AS (SELECT a.source AS source_a, b.source AS source_b, "
    "CAST(count(CASE WHEN a.sig = b.sig THEN 1 END) AS BIGINT) AS n_match "
    "FROM comp a JOIN comp b ON a.i = b.i AND a.source < b.source "
    "GROUP BY a.source, b.source) "
    f"SELECT source_a, source_b, n_match, CAST({_K} AS BIGINT) AS k, "
    + _EST_FMT.format(m="n_match", k=_K)
    + " AS est_jaccard_e6 FROM pairs ORDER BY source_a, source_b"
)

_Q89B_DESCRIPTION = (
    "Q89b: MinHash-estimated source overlap (k=64, one md5 per shingle "
    "split into two 31-bit halves + two-independent component mixes — "
    "the q89 escalation path): shingles explode into a 64-expression "
    "codegen MIN "
    "aggregate (no distinct, no higher-order lambdas, map-side-"
    "combined |sources|-row partials as the only key shuffle; r16: "
    "the aggregate output localCheckpoints so both self-join sides "
    "read the tiny frame instead of re-running the corpus pass, and "
    "a conditional test-scale round-robin spread precedes tokenize), "
    "pair "
    "comparison |sources|^2*k — independent of corpus size. "
    "Deterministic, so fully value-oracled; the estimate-vs-exact band "
    "is pinned in pytest (q19/q65 pattern)."
)


@query("q89b_source_overlap_minhash", oracle=_Q89B_ORACLE,
       description=_Q89B_DESCRIPTION, tags=("llm", "governance"))
def q89b(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables(spark, sf_dir)["documents"]
    # shingles explode straight into the aggregate: min is idempotent,
    # so duplicates need no distinct, and every expression below is a
    # plain column op (the r11 rework — the original per-document
    # nested-lambda form evaluated 64 md5s per shingle, interpreted)
    # q95's two scan lessons (novelty.py r16): spread the single-row-
    # group test-scale scan to cluster width before the tokenize-heavy
    # projection (no-op at warehouse scale), and explode_outer an
    # ATTRIBUTE + isNotNull so InferFiltersFromGenerate cannot push a
    # size(tokenize-chain)>0 filter into the scan — shingles() elements
    # are concat_ws products (never null), so only the empty-array
    # placeholder rows drop: exactly the inner-explode semantics, and
    # exactly the oracle's unnest([]) behaviour.
    docs = _spread_small_input(docs)
    base = docs.select(
        "source", shingles(tokens(F.col("text")), 5).alias("shs")
    ).select(
        "source", F.explode_outer("shs").alias("sh")
    ).where(F.col("sh").isNotNull()).select(
        # md5 materializes ONCE (multi-use non-trivial alias survives
        # CollapseProject); the two halves feed every component mix
        "source", F.md5("sh").alias("m"),
    ).select(
        "source",
        (F.conv(F.substring("m", 1, 8), 16, 10).cast("long") % _P)
        .alias("h1"),
        (F.conv(F.substring("m", 9, 8), 16, 10).cast("long") % _P)
        .alias("h2"),
    )
    comp_wide = base.groupBy("source").agg(*[
        F.min(((2 * i + 1) * F.col("h1") + (i + 3) * F.col("h2")
               + (i + 1) * _B) % _P)
        .alias(f"m{i}")
        for i in range(_K)
    ])
    # comp_wide is |sources| rows × 65 columns but feeds BOTH self-join
    # sides — without a barrier each side re-ran the corpus-sized
    # shingle→md5→64-min aggregate (2 full copies in the plan, the
    # dominant cost). An eager checkpoint of the tiny frame runs it once
    # (r16; the q54/q89 barrier rationale). The returned plan reads it
    # lazily, so its blocks are left to the session sweep.
    comp_wide, _ = checkpoint(comp_wide)
    comp = comp_wide.select(
        "source",
        F.posexplode(F.array(*[f"m{i}" for i in range(_K)]))
        .alias("i", "sig"),
    )
    a = comp.select(F.col("source").alias("source_a"),
                    F.col("i").alias("ia"), F.col("sig").alias("sig_a"))
    b = comp.select(F.col("source").alias("source_b"),
                    F.col("i").alias("ib"), F.col("sig").alias("sig_b"))
    pairs = (
        a.join(b, on=[a.ia == b.ib, a.source_a < b.source_b])
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.when(F.col("sig_a") == F.col("sig_b"), 1))
            .cast("long").alias("n_match")
        )
    )
    return pairs.select(
        "source_a", "source_b", "n_match",
        F.lit(_K).cast("long").alias("k"),
        F.expr(_EST_FMT.format(m="n_match", k=_K)).alias("est_jaccard_e6"),
    ).orderBy("source_a", "source_b")


__all__ = ["q89b"]
