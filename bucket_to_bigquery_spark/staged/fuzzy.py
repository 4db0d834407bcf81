"""STAGED r17 surface (built late r13, NOT registered — GATE_r13.md's
round-17 note budgets the slot) — q140: blocked edit-distance
similarity join over part names — the entity-resolution primitive the
linkage family lacks: q79 (sorted-neighborhood) generates candidates
by sort order and compares on equality-of-derived-keys; this operator
generates candidates by TOKEN BLOCKING (share ≥1 name token) and
verifies with true Levenshtein distance — the classic
block-then-verify string-similarity join.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: integer edit distance under the BYTE-granular contract
— DuckDB's levenshtein edits UTF-8 BYTES while Spark's edits code
points ('café'→'cafe' is 2 vs 1), so the two agree only on ASCII;
the builder therefore computes Levenshtein over the UTF-8 byte view
(encode to UTF-8, reinterpret as ISO-8859-1 — one char per byte),
which equals DuckDB's semantic for ARBITRARY input and the plain
character distance for ASCII (this corpus). The convention is
pinned engine-vs-engine-vs-replay on adversarial unicode in
tests/test_levenshtein_convention.py. Exact token split on single
spaces, candidate dedup before scoring, ordered
(a_partkey, b_partkey).

Scale design (100 TB): the naive string-similarity join is all-pairs
— quadratic and unrunnable. Candidates here come from ONE equi-join
on the token blocking key, with the q47-discipline DF CAP: each
token block keeps its ``_BLOCK_CAP`` lowest-partkey members
(deterministic, oracle-replicated), so the pair fan-out is bounded
by |tokens|·C(cap,2) — corpus-size-INDEPENDENT per token — and a
stop-word-like hot token cannot go quadratic (this corpus's 16-token
name vocabulary makes EVERY token hot, which is exactly the
pathology the cap exists for; recall beyond the capped members is
the documented tradeoff, same as q47's DF cap). Verify (Levenshtein)
runs only on deduped capped candidates, JVM-side. The pair dedup is
one shuffle on the (a, b) key; nothing is broadcast-forced (token
frames are SF-proportional).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import tables

_BLOCK_CAP = 48  # q47-discipline DF cap per token block
_MAX_LEV = 3     # verify threshold

_Q140_ORACLE = (
    "WITH tok AS (SELECT p_partkey AS k, p_name AS nm, "
    "unnest(string_split(p_name, ' ')) AS tok FROM part), "
    "capped AS (SELECT k, nm, tok FROM tok "
    "QUALIFY row_number() OVER (PARTITION BY tok ORDER BY k) <= "
    f"{_BLOCK_CAP}), "
    "cand AS (SELECT DISTINCT a.k AS a_partkey, b.k AS b_partkey, "
    "a.nm AS a_name, b.nm AS b_name FROM capped a JOIN capped b "
    "ON a.tok = b.tok AND a.k < b.k) "
    "SELECT a_partkey, b_partkey, a_name, b_name, "
    "CAST(levenshtein(a_name, b_name) AS BIGINT) AS lev FROM cand "
    f"WHERE levenshtein(a_name, b_name) <= {_MAX_LEV} "
    "ORDER BY a_partkey, b_partkey"
)

_Q140_DESCRIPTION = (
    "Q140: blocked edit-distance similarity join over part names — "
    "block-then-verify entity resolution: candidates from ONE token "
    "equi-join under the q47-discipline DF cap (48 lowest-partkey "
    "members per token block, deterministic and oracle-replicated, so "
    "hot tokens cannot go quadratic), pair dedup, then JVM-side "
    "Levenshtein verify (<= 3) under the BYTE-granular contract (the "
    "UTF-8 byte view — DuckDB's semantic for arbitrary input, plain "
    "character distance on ASCII). Integer distances, exact split, "
    "ordered pairs. Complements q79's sorted-neighborhood candidates "
    "with token blocking + true edit-distance verification."
)


def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tables(spark, sf_dir)["part"]
    return fuzzy_name_pairs(part)


def fuzzy_name_pairs(
    part: DataFrame,
    key_col: str = "p_partkey",
    name_col: str = "p_name",
    block_cap: int = _BLOCK_CAP,
    max_lev: int = _MAX_LEV,
) -> DataFrame:
    """Token-blocked, DF-capped Levenshtein similarity self-join."""
    tok = part.select(
        F.col(key_col).alias("k"),
        F.col(name_col).alias("nm"),
        F.explode(F.split(F.col(name_col), " ")).alias("tok"),
    )
    w = Window.partitionBy("tok").orderBy("k")
    capped = tok.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= block_cap).drop("rn")
    a = capped.alias("a")
    b = capped.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.k") < F.col("b.k")))
        .select(
            F.col("a.k").alias("a_partkey"),
            F.col("b.k").alias("b_partkey"),
            F.col("a.nm").alias("a_name"),
            F.col("b.nm").alias("b_name"),
        )
        .distinct()
    )
    # BYTE-granular Levenshtein (the DuckDB semantic): edit the UTF-8
    # byte view, one ISO-8859-1 char per byte — see the module
    # docstring and tests/test_levenshtein_convention.py
    bv = "decode(encode({c}, 'utf-8'), 'iso-8859-1')"
    return (
        cand.withColumn(
            "lev",
            F.expr(
                f"levenshtein({bv.format(c='a_name')}, "
                f"{bv.format(c='b_name')})"
            ).cast("long"),
        )
        .where(F.col("lev") <= max_lev)
        .orderBy("a_partkey", "b_partkey")
    )


STAGED = {
    "q140_fuzzy_name_pairs": (q140, _Q140_ORACLE, _Q140_DESCRIPTION,
                              ("linkage", "similarity")),
}


__all__ = ["q140", "fuzzy_name_pairs", "STAGED"]
