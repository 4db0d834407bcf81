"""Shared IVF steps, e12 oracle fragments, text-normalizer SQL, the CC
oracles' closure, the co-occurrence pair expansion, the driver-side
frame builder, the source-pattern match and each LLM-operator operating
point have one definition: every string below may appear in exactly one
package file, so a contract change cannot miss a copy. The fixture lock
protocol lives in scratch.py alone, and no call site, oracle fragment or
``run pipeline`` restates an operating-point literal."""

from __future__ import annotations

import os

import pytest

_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                    "bucket_to_bigquery_spark")

_NEEDLES = [
    # e12 d², norm and dot SQL twins
    "(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * ",
    "CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12)",
    "CAST(round(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12)",
    # the injected-centroid fit
    ".limit(ivf_operating_point(",
    # the small-input spread
    "getNumPartitions() < ",
    # the oracle-side text normalizer
    "regexp_replace(text, '\\\\s+'",
    # the recursive min-label closure of the CC oracles
    "UNION SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b",
    # the in-row i < j pair expansion of co-occurrence counting
    'F.slice(F.col("items"), F.col("i") + 2',
    # frames built from driver values (session.local_frame)
    "createDataFrame(",
    # "is this URI one of this source pattern's files" (fs.source_match)
    "(scheme, auth) == (p_scheme, p_auth)",
    # the LLM-operator operating points, each a constant beside its
    # operator (dedup, substring, similarity, graph)
    *(f"\n{name} = " for name in (
        "NGRAM_N", "JACCARD_THRESHOLD", "MAX_SHINGLE_DF",
        "CONTAINMENT_THRESHOLD", "MINHASH_MAX_DISTANCE", "DECONTAM_N",
        "SIMHASH_BITS", "SCRUB_WINDOW", "SCRUB_MIN_DOC_FREQ",
        "SIGN_BAND_COSINE", "TOP_K", "INJECTED_N_PROBE", "CC_MAX_ITERATIONS",
    )),
    # the near-dup shingle rows of the q47/q47b/q55 oracles
    "_SHINGLE_ROWS_SQL = (",
]


def _files_containing(needle: str) -> list[str]:
    hits = []
    for root, dirs, files in os.walk(_PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                if needle in fh.read():
                    hits.append(os.path.relpath(path, _PKG))
    return sorted(hits)


@pytest.mark.parametrize("needle", _NEEDLES)
def test_defined_in_exactly_one_file(needle):
    assert len(_files_containing(needle)) == 1, _files_containing(needle)


@pytest.mark.parametrize("needle", ["flock(", "_DONE"])
def test_fixture_protocol_only_in_scratch(needle):
    assert _files_containing(needle) == ["scratch.py"]


# Fixtures are built in place: nothing publishes by rename, and no audit
# URI is rewritten to a publish root. `run setup` plans through
# BatchLoader.load_task, not through the loader's private steps.
@pytest.mark.parametrize("needle", [
    "audit_rebase", "os.rename(",
    "loader._widest_headers", "loader._resolve_schema",
])
def test_absent_from_package(needle):
    assert _files_containing(needle) == []


# Query modules use the loader's public surface only, so a change to the
# warehouse layout stays inside ingest/.
def test_queries_use_no_private_loader_member():
    assert [f for f in _files_containing("loader._")
            if f.startswith("queries")] == []


# Operating-point literals restated at a call site, in an oracle
# fragment or in `run pipeline`: each constant above is read instead.
@pytest.mark.parametrize("needle", [
    # keyword restatements at engine call sites
    "n=3,", "threshold=0.6", "threshold=0.9", "max_shingle_df=100",
    "window=8", "min_doc_freq=2", "bits=32", "k=5", "n_probe=",
    "jaccard_distance_threshold", "max_iterations", '"embedding", 0.95',
    'shingles(tokens(F.col("text")), 5)', 'shingles(F.col("toks"), 5)',
    # module-private copies of the constants
    "\n_MAX_SHINGLE_DF = ", "\n_JACCARD = ", "\n_N = ", "\n_N_PROBE = ",
    "\n_K = 5", "_Q51_WINDOW",
    # oracle fragments
    "t[i:i+2]", "t[i:i+4]", "len(t) >= 3", "len(t) >= 5",
    "HAVING COUNT(*) > 100", ">= 0.6)", ">= 0.9)", '">= 0.95)"',
    "dist <= 0.4", "range(0, 32)", "HAVING COUNT(DISTINCT doc_id) >= 2",
    "rank <= 5 ORDER BY q_id", "n_id ASC) <= 5)",
])
def test_operating_point_not_restated(needle):
    assert _files_containing(needle) == []
