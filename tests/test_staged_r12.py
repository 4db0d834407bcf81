"""q90 point-in-time enrichment (pit.py), q91 A/B conversion lift
(ab.py), q92 top event paths (paths.py), q89b MinHash source overlap
(sketch_overlap.py — closing the q89 ``weak`` mark).

Checked here:

1. **Registration** — the modules register exactly these entries, each
   with its oracle and description.
2. **Oracle parity** — each builder matches its DuckDB oracle through
   the same compare harness the driver mirrors.
3. **Per-entry semantics** beyond the hash: PIT version lookup replays
   brute-force (inclusive at-boundary rule), the A/B readout replays
   from an independent md5 assignment + attribution walk, the path
   top-10 replays from raw sequences.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from bucket_to_bigquery_spark.queries import ab, paths, pit, sketch_overlap
from bucket_to_bigquery_spark.queries.registry import tables

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(pit, ab, paths, sketch_overlap)


def _run(name, spark, sf_dir):
    return ENTRIES[name].builder(spark, sf_dir)


# ---------------------------------------------------------------------------
# 1. Registration
# ---------------------------------------------------------------------------


def test_staged_entries_are_registered():
    """Importing the package registers exactly these entries from
    the modules above, each with an oracle and a description."""
    assert sorted(ENTRIES) == [
        "q89b_source_overlap_minhash",
        "q90_pit_enrichment",
        "q91_ab_lift",
        "q92_top_event_paths",
    ]
    for q in ENTRIES.values():
        assert q.oracle and q.description, q.name


# ---------------------------------------------------------------------------
# 2. Oracle parity, pre-registration
# ---------------------------------------------------------------------------


def test_staged_oracle_parity(spark, sf_dir):
    duck = duck_connection(sf_dir)
    try:
        for name in sorted(ENTRIES):
            problems = compare(name, spark, duck, sf_dir, ENTRIES)
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        duck.close()


# ---------------------------------------------------------------------------
# 3. q90 — PIT enrichment semantics
# ---------------------------------------------------------------------------


def test_q90_matches_bruteforce(spark, sf_dir):
    """Replay per user under (ts, is_dim DESC, event_id): each purchase
    sees the newest signup at-or-before it (inclusive boundary), NULLs
    before the first signup, version_idx counts prior signups."""
    ev = tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "ts", "event_type", "value").collect()
    by_user = defaultdict(list)
    for r in ev:
        if r.event_type in ("signup", "purchase"):
            is_dim = 1 if r.event_type == "signup" else 0
            by_user[r.user_id].append((r.ts, -is_dim, r.event_id, r))
    expect = {}
    for rows in by_user.values():
        rows.sort(key=lambda t: (t[0], t[1], t[2]))
        version = None
        idx = 0
        for _, neg_dim, _, r in rows:
            if neg_dim == -1:
                version, idx = r, idx + 1
            else:
                expect[r.event_id] = (
                    idx,
                    None if version is None else version.event_id,
                    None if version is None else version.value,
                )
    got = _run("q90_pit_enrichment", spark, sf_dir).collect()
    assert len(got) == len(expect)
    for r in got:
        idx, vid, vval = expect[r.purchase_id]
        assert (r.version_idx, r.version_event_id) == (idx, vid), r
        assert r.version_value == vval
        assert r.enriched == (vid is not None)


# ---------------------------------------------------------------------------
# 3. q91 — A/B lift semantics
# ---------------------------------------------------------------------------


def test_q91_matches_bruteforce(spark, sf_dir):
    """Independent replay: md5 arm assignment, attribution-window
    conversion walk, exact counts, statistics within a rounding unit;
    both arms non-degenerate on this corpus (the reason for the
    attributed-conversion definition)."""
    from bucket_to_bigquery_spark.queries.ab import (
        _B_PERMYRIAD, _SALT, _WINDOW_US,
    )

    ev = tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "ts", "event_type").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)
    arms = {"A": [0, 0], "B": [0, 0]}  # [n, c]
    for user, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        last_click, converted = None, 0
        for r in rows:
            if r.event_type == "click":
                last_click = r.ts
            elif r.event_type == "purchase" and last_click is not None:
                gap_us = (r.ts - last_click).total_seconds() * 1e6
                if gap_us <= _WINDOW_US:
                    converted = 1
        if user is None:
            # both engines NULL-propagate through md5/concat and land in
            # the CASE fallback arm 'A'; md5('ab:None') would diverge
            arm = "A"
        else:
            h = hashlib.md5(f"{_SALT}{user}".encode()).hexdigest()
            arm = "B" if int(h[:8], 16) % 10000 < _B_PERMYRIAD else "A"
        arms[arm][0] += 1
        arms[arm][1] += converted
    (n_a, c_a), (n_b, c_b) = arms["A"], arms["B"]
    row = _run("q91_ab_lift", spark, sf_dir).collect()
    assert len(row) == 1
    g = row[0]
    assert (g.n_a, g.c_a, g.n_b, g.c_b) == (n_a, c_a, n_b, c_b)
    # non-degenerate on this corpus: both arms populated, pooled rate
    # strictly inside (0, 1) — the z statistic is defined
    assert n_a > 0 and n_b > 0 and 0 < c_a + c_b < n_a + n_b
    p_a, p_b = c_a / n_a, c_b / n_b
    p = (c_a + c_b) / (n_a + n_b)
    z = (p_b - p_a) / math.sqrt(p * (1 - p) * (1 / n_a + 1 / n_b))
    assert abs(g.lift_abs_e6 - round((p_b - p_a) * 1e6)) <= 1
    assert abs(g.lift_rel_e6 - round((p_b - p_a) / p_a * 1e6)) <= 1
    assert abs(g.z_e6 - round(z * 1e6)) <= 1


# ---------------------------------------------------------------------------
# 3. q92 — top paths semantics
# ---------------------------------------------------------------------------


def test_q89b_estimates_track_exact_jaccard(spark, sf_dir):
    """The MinHash estimate is deterministic (fixed salts) — parity is
    the hash oracle's job; THIS pins the statistical contract: every
    pair's estimate sits within 0.1 of the exact shingle Jaccard
    (k=64 ⇒ 3σ ≈ 0.19 worst-case, ≈ 0.05 at the small J of this
    corpus), every pair appears exactly once, n_match ∈ [0, k]."""
    from bucket_to_bigquery_spark.queries.sketch_overlap import _K

    docs = tables(spark, sf_dir)["documents"].select("source", "text").collect()
    sets: dict = defaultdict(set)
    for r in docs:
        toks = " ".join(r.text.lower().split()).split(" ") if r.text else []
        for i in range(len(toks) - 4):
            sets[r.source].add(" ".join(toks[i:i + 5]))
    # a source with zero shingled docs drops from the signature frame
    # on BOTH engines (NULL-min filter / unnest([])) — mirror that here
    srcs = sorted(s for s, sh in sets.items() if sh)
    got = {(r.source_a, r.source_b): r
           for r in _run("q89b_source_overlap_minhash", spark, sf_dir).collect()}
    expect_pairs = {(a, b) for ai, a in enumerate(srcs)
                    for b in srcs[ai + 1:]}
    assert set(got) == expect_pairs
    for (a, b), r in got.items():
        assert 0 <= r.n_match <= _K and r.k == _K
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        # 0.2 covers 3σ at any J for k=64 (worst 0.19 at J=0.5); this
        # corpus's max J ≈ 0.04 with observed error ≤ 0.05 — the band
        # must survive a corpus regenerated into a higher-J regime
        assert abs(r.est_jaccard_e6 / 1e6 - j) <= 0.2, (a, b, j, r)


def test_q92_matches_bruteforce(spark, sf_dir):
    from bucket_to_bigquery_spark.queries.paths import _TOPN

    ev = tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "ts", "event_type").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)
    counts: dict = defaultdict(int)
    for rows in by_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        types = [r.event_type for r in rows]
        for i in range(len(types) - 2):
            counts[tuple(types[i:i + 3])] += 1
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOPN]
    got = _run("q92_top_event_paths", spark, sf_dir).collect()
    assert [((r.step1, r.step2, r.step3), r.n) for r in got] == expect
