"""q62: Johnson–Lindenstrauss sign projection of the
embedding column.

The operation: project 64-dim embeddings to 16 dims with a Rademacher
(±1) matrix — the standard cheap dimensionality reduction run BEFORE
expensive vector work (coarser ANN indexes, dedup blocking, storage
shrink: 4× fewer bytes per vector here). A dense Gaussian projection
needs an RNG and floats; the sign matrix preserves the JL guarantee
(E[(Σ sᵢxᵢ)²] = ‖x‖² per output dim) while staying EXACT: inputs are
scaled ints (round(xᵢ·1e6), the q48 e12-contract's little sibling),
signs are ±1 from md5 parity (deterministic, identical in hashlib and
SQL md5), so every projected component is an exact int64 both engines
compute bit-identically — a value-oracled projection, which no
RNG-seeded matrix can be.

Scale design (100 TB): the projection is one Arrow-batched integer
matmul per batch (B×64 @ 64×16), row-local, no shuffle — the house rule
that vector math belongs in numpy under mapInPandas, not in Catalyst
higher-order lambdas (never codegen'd, ~10× slower measured on the q48
scorer). The sign matrix is 1 KB, baked into the closure.

Cites: reference parity n/a; Achlioptas, "Database-friendly random
projections" (PODS 2001) — the ±1 projection this implements.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query, tables

_IN_DIM = 64
_OUT_DIM = 16
_SCALE = 1_000_000  # round(x * 1e6) → exact int64 components


def _sign(i: int, j: int) -> int:
    """±1 from the parity of the first md5 hex nibble of '<j>:<i>' —
    computed with hashlib here and with md5()/substr() in the oracle;
    both hash the identical ASCII string."""
    return 1 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1


def _sign_matrix():
    import numpy as np

    return np.array(
        [[_sign(i, j) for j in range(_OUT_DIM)] for i in range(_IN_DIM)],
        dtype="int64",
    )  # (in_dim, out_dim)


_SIGN_SQL = (
    "CASE WHEN CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || "
    "CAST({i} AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
)

# Arrays are unhashable in the driver's canonicalization (the round-1
# q33/q34 lesson) → the projection emits a comma-joined STRING. The
# inner multiply must be DOUBLE (CAST + a double literal): FLOAT32
# arithmetic at the 1e6 scale rounds differently than the engine's
# float64 path. list_sum returns HUGEINT → cast back to BIGINT before
# stringifying.
_Q62_ORACLE = (
    "SELECT vec_id, "
    f"array_to_string(list_transform(range(0, {_OUT_DIM}), j -> "
    f"CAST(list_sum(list_transform(range(1, {_IN_DIM} + 1), i -> "
    f"CAST(round(CAST(embedding[i] AS DOUBLE) * {_SCALE}.0) AS BIGINT) * "
    + _SIGN_SQL.format(i="i - 1", j="j")
    + ")) AS BIGINT)), ',') AS proj "
    "FROM embeddings ORDER BY vec_id"
)

_Q62_DESCRIPTION = (
    "Q62: Johnson–Lindenstrauss sign projection 64 → 16 dims — "
    "Rademacher ±1 matrix from md5 parity over scaled-int components "
    "(round(x·1e6) as int64), so the projection is exact, deterministic, "
    "and value-oracled, unlike any RNG-seeded matrix. One Arrow-batched "
    "integer matmul per batch, row-local, no shuffle — the cheap "
    "pre-pass before coarser ANN / dedup blocking / 4× storage shrink; "
    "norm preservation (the JL guarantee) is pytest-pinned."
)


def jl_project(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, proj) — the exact ±1 projection as an Arrow-batched integer
    matmul. Reusable operator seam: q62 is its registry face."""
    import numpy as np

    sign = _sign_matrix()

    def project(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"vec_id": pd.Series([], dtype="int64"),
                                    "proj": pd.Series([], dtype="str")})
                continue
            x = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["vec"]]
            )
            # per-element scaled-int rounding BEFORE the matmul is the
            # exactness contract (float matmul would be order-dependent);
            # np.rint ties-to-even matches SQL round() only off-ties, so
            # use the shared half-away rounding: these are *1e6 scaled
            # doubles, where exact .5 fractions do occur
            from ..operators.similarity import _round_nearest_ties_away_e12

            xi = _round_nearest_ties_away_e12(x * _SCALE)
            proj = xi @ sign  # exact int64 matmul
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "proj": [",".join(str(v) for v in row) for row in proj],
                }
            )

    feats = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    return feats.mapInPandas(project, "vec_id long, proj string")


@query("q62_jl_sign_projection", oracle=_Q62_ORACLE,
       description=_Q62_DESCRIPTION, tags=("llm",))
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables(spark, sf_dir)["embeddings"]
    return jl_project(emb).orderBy("vec_id")


__all__ = ["jl_project", "q62"]
