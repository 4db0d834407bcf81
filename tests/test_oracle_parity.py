"""Every registered query vs its DuckDB oracle, plus the registry's own
invariants (name format, no query module outside the registry).

Runs at sf0.001 by default (fast inner loop); set B2BQS_TEST_SF_DIR to
/root/testdata/sf0.01 to mirror the driver's t2 gate exactly.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from bucket_to_bigquery_spark import queries
from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.queries.registry import query

from .oracle import compare, duck_connection

QUERIES = all_queries()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("qname", sorted(QUERIES))
def test_query_matches_oracle(qname, spark, duck, sf_dir):
    problems = compare(qname, spark, duck, sf_dir, QUERIES)
    assert not problems, f"{qname}: " + "; ".join(problems)


def test_registry_names_are_parseable():
    """``query()`` rejects names outside ``q<NN>[variant]_...`` at
    registration: bench.py and perfbench key entries by that prefix."""
    for bad in ("r01_weird", "quux", "q_no_number", "q01ab_two_letters"):
        with pytest.raises(ValueError):
            query(bad)


def test_every_query_module_registers_entries():
    """No module under ``queries/`` sits outside the registry: each one is
    imported by the package and registers at least one entry."""
    pkg = Path(queries.__file__).parent
    modules = {p.stem for p in pkg.glob("*.py")} - {"__init__", "registry"}
    registering = {
        q.builder.__module__.rsplit(".", 1)[-1] for q in QUERIES.values()
    }
    assert sorted(modules - registering) == []
