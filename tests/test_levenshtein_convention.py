"""Cross-engine pin of the edit-distance convention that
q79_sorted_neighborhood_linkage (``queries/linkage.py``) relies on:
DuckDB's ``levenshtein`` edits UTF-8 BYTES while Spark's edits code
points, so the two agree only on ASCII — 'café'→'cafe' is 2 in DuckDB
and 1 in raw Spark. The q79 builder therefore computes Levenshtein
over the UTF-8 BYTE VIEW
(encode to UTF-8, reinterpret as ISO-8859-1 — one char per byte),
which equals DuckDB's semantic for arbitrary input.

This file pins all three implementations (Spark byte-view, DuckDB,
the replay DP over bytes) on adversarial unicode, keeps the raw-
Spark divergence as a non-vacuousness sentinel (the division-pin
pattern), and proves the ASCII domain — this corpus — is unaffected.
"""

from __future__ import annotations

import random

import duckdb

_BV = "decode(encode({c}, 'utf-8'), 'iso-8859-1')"

_EDGES = [
    ("", ""), ("", "x"), ("x", ""), ("a", "b"), ("ab", "ba"),
    ("café", "cafe"), ("ñu", "nu"), ("日本語", "日本"),
    ("x😀y", "xy"), ("😀", "😄"), ("𝕏a", "Xa"),
    ("red widget", "red wagon"), ("small ring", "small gizmo"),
    ("aaaaaaaa", "aaab"), ("ab" * 12, "ba" * 12),
]
_RNG = random.Random(20260816)
_ALPHABETS = ["ab", "abcde", "abcdefghij nopq", "aé日😀"]
_PAIRS = _EDGES + [
    (
        "".join(_RNG.choice(al) for _ in range(_RNG.randrange(0, 14))),
        "".join(_RNG.choice(al) for _ in range(_RNG.randrange(0, 14))),
    )
    for al in _ALPHABETS
    for _ in range(40)
]


def _lev_bytes(a_s: str, b_s: str) -> int:
    a, b = a_s.encode(), b_s.encode()
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_raw_spark_diverges_on_non_ascii(spark):
    """Non-vacuousness sentinel: raw levenshtein() would break the
    oracle on the first non-ASCII name."""
    row = spark.createDataFrame([("café", "cafe")], "a string, b string")
    got = row.selectExpr(
        "levenshtein(a, b) AS raw",
        f"levenshtein({_BV.format(c='a')}, {_BV.format(c='b')}) AS bv",
    ).collect()[0]
    assert got.raw == 1  # code points
    assert got.bv == 2  # bytes — the DuckDB semantic
    assert _lev_bytes("café", "cafe") == 2


def test_duckdb_levenshtein_is_byte_granular():
    con = duckdb.connect()
    try:
        for a, b in _PAIRS:
            got = con.execute(
                "SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
            assert got == _lev_bytes(a, b), (a, b)
    finally:
        con.close()


def test_spark_byte_view_matches_replay(spark):
    df = spark.createDataFrame(_PAIRS, "a string, b string")
    rows = df.selectExpr(
        "a", "b",
        f"levenshtein({_BV.format(c='a')}, {_BV.format(c='b')}) AS l",
    ).collect()
    assert len(rows) == len(_PAIRS)
    for r in rows:
        assert r.l == _lev_bytes(r.a, r.b), (r.a, r.b)


def test_ascii_domain_is_unchanged(spark):
    """On pure ASCII (this corpus's part names) the byte view IS the
    plain character distance — raw and byte-view agree."""
    ascii_pairs = [(a, b) for a, b in _PAIRS
                   if a.isascii() and b.isascii()]
    assert len(ascii_pairs) >= 100  # the pin actually covers the domain
    df = spark.createDataFrame(ascii_pairs, "a string, b string")
    rows = df.selectExpr(
        "a", "b", "levenshtein(a, b) AS raw",
        f"levenshtein({_BV.format(c='a')}, {_BV.format(c='b')}) AS bv",
    ).collect()
    for r in rows:
        assert r.raw == r.bv == _lev_bytes(r.a, r.b), (r.a, r.b)
