"""Query registry: every declared query (SURVEY §2.C) registered once,
pairing the Spark builder with its DuckDB oracle SQL.

Determinism discipline (SURVEY §2.C preamble / §7 hard part 4):
- every query ends with an explicit ORDER BY on a unique key set;
- double aggregates are computed EXACTLY by casting inputs to
  ``DECIMAL`` before aggregation (order-independent), then cast back to
  double — see :func:`dsum` / :func:`davg`. This removes float-summation
  order nondeterminism entirely instead of hoping ROUND(x, 4) lands both
  engines on the same side of a boundary;
- transcendental outputs (exp/ln/pow) are rounded since libm may differ
  in the last ulp between the JVM and DuckDB.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..session import tune


@dataclass
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records a weaker rows-only check
    description: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, Query] = {}

# bench.py and perfbench key entries by the ``q<NN>[variant]`` prefix
_NAME_RE = re.compile(r"^q\d+[a-z]?_")


def query(name: str, oracle: str | None = None, description: str = "",
          tags: tuple[str, ...] = ()):  # noqa: D401
    """Decorator registering a (spark, sf_dir) -> DataFrame builder.

    ``name`` must match ``q<digits>[variant]_...``; anything else raises
    ``ValueError`` at registration.
    """
    if not _NAME_RE.match(name):
        raise ValueError(f"registry name {name!r} does not match q<NN>[v]_*")

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        wrapped = _with_tuning(fn)
        REGISTRY[name] = Query(name, wrapped, oracle, description or (fn.__doc__ or ""), tuple(tags))
        return wrapped

    return deco


def _with_tuning(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune(spark)
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    run.__module__ = fn.__module__
    run.__wrapped__ = fn  # lets tools map a registry entry to its source file
    return run


def tables(spark: SparkSession, sf_dir: str):
    return load_tables(spark, sf_dir)


# ---------------------------------------------------------------------------
# Deterministic-aggregate helpers (Spark side). The oracle mirrors each with
# the SQL in DSUM_SQL/DAVG_SQL below.
# ---------------------------------------------------------------------------

_DEC = "decimal(30,6)"


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent double sum: cast to decimal, sum exactly, back to double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent double avg: exact decimal sum / non-null count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(_DEC)).cast("double") / F.count(c)).alias(alias)


def dsum_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE) AS {alias}"


def davg_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE) / COUNT({expr}) AS {alias}"
    )
