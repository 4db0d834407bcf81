"""Randomized end-to-end differential test for the q54 full pipeline:
``preprocess()`` (exact dedup -> gates -> near-dup clusters) -> substring
scrub -> packing, compared against a pure-Python gates-first reference
composition on hypothesis corpora, so the dedup-first reordering is
checked too. The oracle parity test covers the one planted corpus; this
covers the edge cases random corpora produce (everything filtered, no
duplicates, all duplicates, single-token docs, megatokens,
stopword-free docs) plus a planted shared-prefix pair that exercises
the scrub stage (two docs sharing an 8-token run whose jaccard stays
under the 0.6 near-dup gate, so BOTH survive clustering and the shared
run is scrubbed from each)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from bucket_to_bigquery_spark.queries.llm_queries import (
    _LANG_PROFILES,
    _STOPWORDS,
)
from bucket_to_bigquery_spark.queries.pipeline_queries import (
    _Q52_SEQ_LEN,
    _Q52_SHARDS,
)

# Vocabulary mixes stopwords (so has_stopwords can pass), normal tokens,
# and one 30-char megatoken (so no_megatoken can fail).
_MEGA = "m" * 30
VOCAB = _STOPWORDS[:4] + ["data", "model", "train", "xx", "yy", _MEGA]

docs_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=12).map(" ".join),
    min_size=2, max_size=7,
)

ALL_STOP = set(
    _STOPWORDS + _LANG_PROFILES["de"] + _LANG_PROFILES["es"]
    + _LANG_PROFILES["fr"]
)


def _ref_gate(toks: list[str]) -> bool:
    n = len(toks)
    if n < 5:
        return False
    nc = sum(len(t) for t in toks) + (n - 1)
    avg = (nc - (n - 1)) / n
    if not (2 <= avg <= 12):
        return False
    if any(len(t) > 25 for t in toks):
        return False
    return any(t in ALL_STOP for t in toks)


def _ref_pairs(docs: dict[int, list[str]], n: int, thr: float):
    sets = {}
    for d, t in docs.items():
        sets[d] = {
            tuple(t[i:i + n]) for i in range(len(t) - n + 1)
        }
    # DF cap 100 never triggers at <= 9 docs; exact jaccard over sets
    out = []
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= thr:
                out.append((a, b))
    return out


def _ref_cc_survivors(ids: list[int], pairs: list[tuple[int, int]]) -> set[int]:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}


def _ref_scrub_counts(toks: dict[int, list[str]], window: int = 8) -> dict[int, int]:
    """Kept-token count per doc after excising every position covered by
    an 8-token window whose content occurs in >= 2 distinct docs. The
    operator merges duplicated windows into gaps-and-islands spans; a
    new island requires a start gap > window, so span coverage equals
    the plain UNION of duplicated windows' positions — which is what
    this reference computes directly."""
    from collections import defaultdict

    docs_by_win: dict[tuple[str, ...], set[int]] = defaultdict(set)
    for d, t in toks.items():
        for i in range(len(t) - window + 1):
            docs_by_win[tuple(t[i:i + window])].add(d)
    dup = {w for w, ds in docs_by_win.items() if len(ds) >= 2}
    out = {}
    for d, t in toks.items():
        covered: set[int] = set()
        for i in range(len(t) - window + 1):
            if tuple(t[i:i + window]) in dup:
                covered.update(range(i, i + window))
        out[d] = len(t) - len(covered)
    return out


def _ref_pipeline(docs: dict[int, str]):
    toks = {d: t.split() for d, t in docs.items()}
    kept = {d for d, t in toks.items() if _ref_gate(t)}
    # exact dedup: min id per exact normalized text
    by_text: dict[str, int] = {}
    for d in sorted(kept):
        by_text.setdefault(docs[d], d)
    exact = set(by_text.values())
    pairs = _ref_pairs({d: toks[d] for d in exact}, n=3, thr=0.6)
    surv = _ref_cc_survivors(sorted(exact), pairs)
    # scrub over the SURVIVOR corpus; fully-scrubbed docs are dropped
    n_kept = _ref_scrub_counts({d: toks[d] for d in surv})
    surv = {d for d in surv if n_kept[d] > 0}
    # packing: concat-and-chunk per shard in doc_id order, SCRUBBED counts
    chunks: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for shard in range(_Q52_SHARDS):
        off = 0
        for d in sorted(x for x in surv if x % _Q52_SHARDS == shard):
            cid = off // _Q52_SEQ_LEN
            chunks.setdefault((shard, cid), []).append((d, n_kept[d]))
            off += n_kept[d]
    return {
        (s, c): (
            len(ds), sum(n for _, n in ds), min(d for d, _ in ds),
            max(d for d, _ in ds),
        )
        for (s, c), ds in chunks.items()
    }


@settings(max_examples=5, deadline=None)
@given(docs_strategy)
def test_full_pipeline_matches_reference(spark, texts):
    from bucket_to_bigquery_spark.operators.substring import substring_scrub
    from bucket_to_bigquery_spark.queries.pipeline_queries import (
        pack_chunks_counts,
        preprocess,
    )
    from pyspark.sql import functions as F

    # plant exact copies of the first two docs so dedup is exercised
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(100 + i, t) for i, t in rows[:2]]
    # plant a shared-prefix pair so the SCRUB stage is exercised: both
    # pass the gates (>=5 tokens, stopwords, no megatoken), share the
    # 8-token run (6 common 3-gram shingles; jaccard 6/16 = 0.375 < 0.6
    # so both survive clustering), and scrub to n_kept = 5 each
    run8 = "the data model train and of xx yy"
    rows += [(201, run8 + " aa bb cc dd ee"), (202, run8 + " ff gg hh ii jj")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    final, release = preprocess(df)
    scrubbed = substring_scrub(final, "doc_id", "text", window=8, min_doc_freq=2)
    got = {
        (r["shard_id"], r["chunk_id"]): (
            r["n_docs"], r["n_tokens"], r["first_doc"], r["last_doc"]
        )
        for r in pack_chunks_counts(
            scrubbed.where(F.col("n_kept") > 0)
            .select("doc_id", F.col("n_kept").alias("n_tok"))
        ).collect()
    }
    release()
    expect = _ref_pipeline(dict(rows))
    assert got == expect
