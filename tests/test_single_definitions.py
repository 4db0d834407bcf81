"""Shared IVF steps, e12 oracle fragments and text-normalizer SQL each
have one definition: every string below may appear in exactly one
package file, so a contract change cannot miss a copy."""

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
