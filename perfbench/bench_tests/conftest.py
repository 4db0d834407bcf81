"""Tests of the benchmark's own code: input generators, output checks and
the stage-counter reader. Run from the repository root::

    python3 -m pytest perfbench/bench_tests -q -p no:cacheprovider
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import run

    run._isolate(str(tmp_path_factory.mktemp("spark")))
    s = run._start()
    yield s
    run._stop(s)


@pytest.fixture(scope="session")
def tables(tmp_path_factory):
    import inputs
    import workloads

    return inputs.write_tables(str(tmp_path_factory.mktemp("data")),
                               workloads.SCALE)
