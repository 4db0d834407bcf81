"""Shared IVF steps, e12 oracle fragments, text-normalizer SQL, the CC
oracles' closure, the co-occurrence pair expansion, the driver-side
frame builder and the source-pattern match each have one definition:
every string below may appear in exactly one package file, so a contract
change cannot miss a copy. The fixture lock protocol lives in scratch.py
alone."""

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
