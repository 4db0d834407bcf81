"""Property tests for the exact-overlap dedup family: the Spark results
must equal a pure-Python reference computation on random corpora —
deterministic assertions (no probabilistic recall bounds here; those live
in test_llm_ops.py against the planted corpus)."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from bucket_to_bigquery_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_PRIME,
    minhash_candidate_pairs,
    minhash_params,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)

WORDS = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
docs_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=1, max_size=8,
)


def _shingle_set(text: str, n: int = 3) -> set[int]:
    toks = [t for t in text.lower().split() if t]
    p = MINHASH_PRIME
    return {
        int(hashlib.md5(" ".join(toks[i:i + n]).encode()).hexdigest()[:15], 16) % p
        for i in range(len(toks) - n + 1)
    }


@settings(max_examples=5, deadline=None)
@given(docs_strategy)
def test_minhash_pairs_verify_exactly(spark, texts):
    """Every emitted pair's jaccard_dist must equal the exact Jaccard
    distance over the mod-p hashed shingle sets, and every pair of docs
    with identical non-empty shingle sets (dist 0) must be emitted —
    signatures of identical sets collide in every band."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_dist"]
        for r in minhash_candidate_pairs(df, "doc_id", "text").collect()
    }
    sets = {i: _shingle_set(t) for i, t in rows}
    for (a, b), dist in got.items():
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        expect = 1.0 - inter / (len(sa) + len(sb) - inter)
        assert abs(dist - expect) < 1e-12, (a, b)
        assert dist <= 0.4 + 1e-12
    for i, ti in rows:
        for j, tj in rows:
            if i < j and sets[i] and sets[i] == sets[j]:
                assert (i, j) in got, f"identical docs {i},{j} not emitted"


@settings(max_examples=5, deadline=None)
@given(docs_strategy)
def test_jaccard_leq_containment_and_thresholds(spark, texts):
    """jaccard(A,B) <= containment(A,B) always, so with equal thresholds
    every jaccard pair is a containment pair; both operators' scores must
    match the exact python computation over the (uncapped here:
    max_shingle_df large) shingle sets."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.1, max_shingle_df=10**6
        ).collect()
    }
    con = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, "doc_id", "text", threshold=0.1, max_shingle_df=10**6
        ).collect()
    }
    # shingle_hash here is the UN-reduced 60-bit hash (no mod p)
    def sset(text):
        toks = [t for t in text.lower().split() if t]
        return {
            int(hashlib.md5(" ".join(toks[i:i + 3]).encode()).hexdigest()[:15], 16)
            for i in range(len(toks) - 2)
        }

    sets = {i: sset(t) for i, t in rows}
    assert set(jac) <= set(con)  # j <= c pointwise at equal thresholds
    for (a, b), j in jac.items():
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        assert abs(j - inter / (len(sa) + len(sb) - inter)) < 1e-12
        assert j <= con[(a, b)] + 1e-12
    for (a, b), c in con.items():
        sa, sb = sets[a], sets[b]
        assert abs(c - len(sa & sb) / min(len(sa), len(sb))) < 1e-12


def test_minhash_params_are_stable():
    # q47b's oracle SQL embeds these literals (one (band, a, b) row per
    # hash function); silent drift = hash mismatch. Pinned at the shipped
    # (MINHASH_BANDS, MINHASH_SEED) = (6, 42).
    from bucket_to_bigquery_spark.queries.llm_queries import _MH_PARAMS_SQL

    shipped = [
        (1373158607, 239081663), (53710185, 1592467581),
        (590620972, 525901256), (479341424, 299655412),
        (1581559893, 220106707), (1453201079, 1590571865),
    ]
    assert MINHASH_BANDS == len(shipped)
    assert minhash_params() == shipped
    assert _MH_PARAMS_SQL == ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(shipped))


# ---------------------------------------------------------------------------
# q89 md5-fold key parity (ADVICE r12 #2): overlap.py re-derives the
# 60-bit fold inline as _SHKEY_SQL with no shared constant with
# operators/dedup.shingle_hash — a future edit to either side could
# silently desync the q89 oracle from the builder. Pin the two engines
# against a pure-python hashlib reference (a third implementation) so
# any drift fails here before it reaches the driver gate.
# ---------------------------------------------------------------------------

def _py_fold(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


@settings(max_examples=150, deadline=None)
@given(st.text(min_size=1, max_size=40).filter(lambda s: "\x00" not in s))
def test_shkey_sql_matches_hashlib_fold(s):
    import duckdb

    from bucket_to_bigquery_spark.queries.overlap import _SHKEY_SQL

    con = duckdb.connect()
    got = con.execute(
        f"SELECT {_SHKEY_SQL} FROM (SELECT ? AS sh)", [s]
    ).fetchone()[0]
    con.close()
    assert got == _py_fold(s), s


def test_shingle_hash_matches_hashlib_fold(spark):
    """One Spark job over a mixed corpus (fixed edge strings + seeded
    random unicode) pins operators/dedup.shingle_hash to the same
    hashlib reference — closing the builder==oracle triangle."""
    import random

    from pyspark.sql import functions as F

    from bucket_to_bigquery_spark.operators.dedup import shingle_hash

    rng = random.Random(89)
    corpus = [
        "a", "aa bb cc", " leading", "trailing ", "UPPER lower",
        "ünïcode šš žž", "日本語 テスト", "emoji 🙂 row", "tab\tsep",
        "quote'and\"quote", "back\\slash", "comma,semi;colon",
    ] + [
        "".join(rng.choice("abcdefghij ,.-ü日🙂") for _ in range(rng.randint(1, 30)))
        for _ in range(100)
    ]
    df = spark.createDataFrame([(s,) for s in corpus], ["sh"])
    rows = df.select("sh", shingle_hash(F.col("sh")).alias("h")).collect()
    for r in rows:
        assert r["h"] == _py_fold(r["sh"]), r["sh"]


def _simhash32_ref(text: str) -> int:
    """Pure-python reference of the q46b SimHash contract: distinct
    whitespace tokens of the normalized text, 32-bit md5-prefix hashes,
    majority vote per bit (ties clear the bit)."""
    norm = " ".join(text.split()).strip().lower()
    toks = set(norm.split(" "))
    votes = [0] * 32
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for j in range(32):
            votes[j] += 1 if (h >> j) & 1 else -1
    return sum(1 << j for j in range(32) if votes[j] > 0)


def test_simhash_col_matches_reference_and_handles_nulls(spark):
    """The r15 Arrow rewrite of simhash_col must keep the exact q46b
    contract — including the degenerate rows the planted corpora never
    exercise: empty text (tokens('') == ['']), whitespace-only text
    (normalizes to ''), single token, and NULL text (HOF semantics:
    null in → null out)."""
    from bucket_to_bigquery_spark.operators.dedup import simhash_col, tokens

    rows = [
        (0, "the quick brown fox"),
        (1, ""),
        (2, "   \t  "),
        (3, "solo"),
        (4, "the the the quick"),  # duplicates collapse to distinct
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", simhash_col(tokens("text")).alias("sh")
        ).collect()
    }
    for doc_id, text in rows:
        if text is None:
            assert got[doc_id] is None
        else:
            assert got[doc_id] == _simhash32_ref(text), (doc_id, text)


def test_simhash_col_plan_is_arrow_batched(spark):
    """Regression pin for the r15 rewrite: the fingerprint must evaluate
    as ONE Arrow-batched python stage (ArrowEvalPython), not fall back
    to interpreted Catalyst HOF folds or row-at-a-time PythonUDF."""
    from bucket_to_bigquery_spark.operators.dedup import simhash_col, tokens

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        df.select(simhash_col(tokens("text")).alias("sh"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan  # the row-at-a-time fallback


def test_minhash_pairs_survive_repeat_calls_and_cache_sweeps(spark):
    """The r15 persist inside minhash_candidate_pairs must not make the
    operator stateful across calls: a second invocation (fresh persist)
    and an invocation after a session-wide clearCache() must both
    return the identical pair set — the session-hygiene property
    bench.py's between-query sweep relies on."""
    rows = [(i, f"{w} {w} common tail tokens here {i % 3}")
            for i, w in enumerate(["aa bb cc dd ee", "aa bb cc dd ee",
                                   "zz yy xx ww vv", "aa bb cc dd ff"] * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got1 = sorted(map(tuple, minhash_candidate_pairs(
        df, "doc_id", "text").collect()))
    got2 = sorted(map(tuple, minhash_candidate_pairs(
        df, "doc_id", "text").collect()))
    assert got1 == got2 and got1  # non-vacuous
    spark.catalog.clearCache()
    got3 = sorted(map(tuple, minhash_candidate_pairs(
        df, "doc_id", "text").collect()))
    assert got1 == got3


@given(st.lists(
    st.text(
        # caseless-safe draw: exclude upper/title-case letters so the
        # test pins UTF-8 BYTE parity of the md5 fold, not the engines'
        # (already independently contracted) unicode case-folding —
        # CJK/emoji/combining marks are all caseless and stay in scope
        alphabet=st.characters(
            codec="utf-8",
            exclude_characters=" \t\r\n\x00\x0b\x0c\x1c\x1d\x1e\x1f\x85",
            exclude_categories=["Lu", "Lt", "Zs", "Zl", "Zp", "Cc"],
        ),
        min_size=1, max_size=8,
    ).map(lambda t: " ".join(t.split())),
    min_size=1, max_size=6,
))
@settings(max_examples=30, deadline=None)
def test_simhash_col_utf8_parity_on_arbitrary_tokens(spark, token_pool):
    """The Arrow simhash hashes token.encode() (UTF-8) where the JVM md5
    and the DuckDB oracle hash the string's UTF-8 bytes — pin that the
    three agree beyond ASCII (the planted corpora never exercise
    multi-byte tokens). Hypothesis draws arbitrary caseless non-space
    unicode tokens; parity is vs the pure-python reference AND the
    DuckDB fold."""
    import duckdb

    from bucket_to_bigquery_spark.operators.dedup import simhash_col, tokens
    from bucket_to_bigquery_spark.queries.llm_queries import (
        _SIMHASH_SQL,
        _TOKHASH_SQL,
        _TOKS_SQL,
    )

    text = " ".join(token_pool)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = df.select(
        simhash_col(tokens("text")).alias("sh")
    ).collect()[0].sh
    assert got == _simhash32_ref(text)
    con = duckdb.connect()
    oracle = con.execute(
        "WITH d AS (SELECT ? AS text), t AS (SELECT "
        f"list_transform(list_distinct({_TOKS_SQL}), t -> "
        + _TOKHASH_SQL.format(t="t")
        + f") AS hs FROM d) SELECT {_SIMHASH_SQL} FROM t",
        [text],
    ).fetchone()[0]
    con.close()
    assert got == oracle, (text, got, oracle)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(
    alphabet=st.characters(codec="utf-8",
                           blacklist_categories=("Cs",)),
    min_size=0, max_size=40), min_size=1, max_size=6))
def test_tokens_never_yields_null_elements(spark, texts):
    """Invariant several query shapes depend on (ADVICE r16 #2/#3):
    ``tokens()`` — split over the normalized text — can yield EMPTY
    string elements but never NULL elements, and never a NULL array for
    non-null input. q49l/q49m/q67/q75 replace inner explodes with
    explode_outer + isNotNull (and lm.py's bigram transform builds
    structs from element_at over it), all of which silently change
    results if a null element ever appears. Arbitrary unicode input,
    including whitespace-only and empty strings."""
    from pyspark.sql import functions as F

    from bucket_to_bigquery_spark.operators.dedup import tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bad = df.select(
        tokens("text").alias("t")
    ).where(
        F.col("t").isNull() | F.exists("t", lambda x: x.isNull())
    ).count()
    assert bad == 0
