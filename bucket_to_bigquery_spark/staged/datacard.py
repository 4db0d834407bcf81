"""STAGED r20 surface (built late r14, NOT registered — GATE_r14.md's
round-20 note budgets the slot) — q172: dataset-card composition grid
— the (language × length-band) breakdown a training-data release
ships as its datasheet: per cell, exact document and token counts and
the cell's token share WITHIN its language (e6) — the view that shows
"my German data is all short snippets" where per-language totals
(q102's scorecard) and global histograms (q49b) each smear one axis.

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension when registered).

Determinism: length bands are pure integer division of n_chars
(256-char bands, capped at band 7 — the q49b equi-width convention);
token counts use the q49/q75 whitespace tokenizer twins
(operators/dedup.tokens / llm_queries._TOKS_SQL — one definition);
the share is the truncating integer division by the per-language
token total (languages are nonempty by construction — every document
has a lang). ORDER BY the unique (lang, band) key.

Scale design (100 TB): ONE tokenize scan map-side-combines straight
into the (lang × 8-band)-bounded grid; per-language totals derive
from the cached grid itself (never a second fact pass) and broadcast
back onto it. No window over fact rows, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from ..queries.llm_queries import _TOKS_SQL
from ..queries.registry import tables

_BAND_CHARS = 256
_MAX_BAND = 7

_Q172_ORACLE = (
    "WITH base AS (SELECT lang, "
    f"least(n_chars // {_BAND_CHARS}, {_MAX_BAND}) AS band, "
    f"CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok FROM documents), "
    "grid AS (SELECT lang, band, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM base "
    "GROUP BY lang, band), "
    "lt AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens "
    "FROM grid GROUP BY lang) "
    "SELECT grid.lang AS lang, CAST(band AS BIGINT) AS band, n_docs, "
    "n_tokens, "
    "CAST(n_tokens * 1000000 // lang_tokens AS BIGINT) "
    "AS lang_token_share_e6 "
    "FROM grid JOIN lt ON grid.lang = lt.lang "
    "ORDER BY lang, band"
)

_Q172_DESCRIPTION = (
    "Q172: dataset-card composition grid — per (language, 256-char "
    "length band): exact document/token counts and the truncating-div "
    "token share within the language — the datasheet view that "
    "exposes per-language length skew where per-language totals and "
    "global histograms each smear one axis. One tokenizer definition "
    "(the q49/q75 twins). Scale-correct: one tokenize scan map-side-"
    "combines into the (lang x 8)-bounded grid; language totals "
    "derive from the cached grid and broadcast back — never a second "
    "fact pass."
)


def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    base = d.select(
        "lang",
        F.least(
            F.expr(f"n_chars div {_BAND_CHARS}"), F.lit(_MAX_BAND)
        ).alias("band"),
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )
    grid = (
        base.groupBy("lang", "band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        # two consumers (the per-language totals + the final join) ->
        # cache the (lang x 8)-bounded grid
        .cache()
    )
    lt = grid.groupBy("lang").agg(
        F.sum("n_tokens").cast("long").alias("lang_tokens"))
    return (
        grid.join(F.broadcast(lt), "lang")
        .select(
            "lang",
            F.col("band").cast("long").alias("band"),
            "n_docs", "n_tokens",
            F.expr("cast(n_tokens * 1000000 div lang_tokens as bigint)")
            .alias("lang_token_share_e6"),
        )
        .orderBy("lang", "band")
    )


STAGED = {
    "q172_dataset_card": (q172, _Q172_ORACLE, _Q172_DESCRIPTION,
                          ("llm", "governance")),
}


__all__ = ["q172", "STAGED"]
