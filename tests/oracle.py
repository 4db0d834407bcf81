"""Local replica of the driver's correctness gate: run a registered query
on Spark AND its oracle SQL on DuckDB over the same parquet tables, then
compare row count + order-insensitive canonicalized values.

Comparison is EXACT (stringified values) — same discipline the driver's
value-hash implies — so any float/timestamp/decimal divergence fails here
first, where we can still fix the query's determinism strategy.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb

from bucket_to_bigquery_spark.catalog import TABLE_NAMES


def round_half_away(x: float) -> int:
    """The engines' round() convention (half away from zero) for test
    replays. Several older batch-test files carry local verbatim
    copies predating this helper; new replays should import this one.
    """
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def toks_replay(text: str) -> list[str]:
    """The shared q46-family tokenizer contract for test replays
    (normalize whitespace, lowercase, split; "" tokenizes to [""]).
    Several older batch-test files carry local verbatim copies
    predating this helper; new replays should import this one.
    """
    return " ".join(text.lower().split()).split(" ") if text else [""]


def module_entries(*modules) -> dict:
    """The registered entries whose builders are defined in ``modules``,
    in registration order."""
    from bucket_to_bigquery_spark.queries import all_queries

    names = {m.__name__ for m in modules}
    return {
        name: q for name, q in all_queries().items()
        if q.builder.__module__ in names
    }


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(v):
    """Canonicalize a cell for cross-engine comparison."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"f:{float(v)!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def canon_rows(columns: list[str], rows) -> list[str]:
    """Sort columns by name, canonicalize every cell, return sorted row strings
    (order-insensitive multiset compare)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon(row[i]) for i in order) for row in rows)


def canon_pd(v):
    """Canonicalize a cell AFTER it has been routed through a pandas
    DataFrame — i.e. with the driver's dtype coercions applied.

    This is the layer that catches divergence the plain python-object
    ``canon`` cannot: DuckDB HUGEINT (SUM over BIGINT) becomes float64 in
    ``.df()`` while Spark emits int64, so the same value hashes as
    ``f:6.4e+13`` vs ``i:64000000000000`` (round-2 q33b failure mode).
    """
    import numpy as np
    import pandas as pd

    if v is None:
        return "∅"
    try:
        if pd.isna(v):
            return "∅" if isinstance(v, (pd.Timestamp, type(pd.NaT))) else "f:nan"
    except (TypeError, ValueError):
        pass  # arrays etc. — fall through
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "f:nan" if math.isnan(f) else f"f:{f!r}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, pd.Timestamp):
        return f"ts:{v.isoformat()}"
    # DATE alignment, empirically calibrated against the driver: DuckDB
    # ``.df()`` surfaces DATE as datetime64 (midnight Timestamp) while
    # Spark ``toPandas`` keeps datetime.date objects — and the driver
    # hash-PASSED that pairing in round 2 (q04c, q31), so its
    # canonicalization treats them as equal. Mirror that here: a date is a
    # midnight timestamp. (datetime.datetime is a date subclass — order
    # matters.)
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"ts:{v.isoformat()}T00:00:00"
    return canon(v)


def canon_rows_pdf(pdf) -> list[str]:
    """Driver-faithful canonicalization: sort columns by name, canonicalize
    each cell with pandas dtypes intact, return sorted row strings."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(
        "|".join(canon_pd(c) for c in row)
        for row in pdf.itertuples(index=False, name=None)
    )


def driver_canon_check(columns: list[str], rows) -> str | None:
    """Replicate the DRIVER's canonicalization path (pandas sort_values over
    all columns) and return an error string if it would die there.

    The driver hashes results through pandas; ndarray/list/dict cells are
    unhashable in ``sort_values`` and turned q33/q34 into errors in round 1
    even though the local list-aware canon() passed. Parity means parity.
    """
    import pandas as pd

    try:
        df = pd.DataFrame(list(rows), columns=columns)
        df = df.reindex(sorted(df.columns), axis=1)
        df.sort_values(by=list(df.columns), ignore_index=True)
    except Exception as e:  # noqa: BLE001
        return f"driver canonicalization would fail: {type(e).__name__}: {e}"
    return None


def run_spark_query(qobj, spark, sf_dir: str):
    df = qobj.builder(spark, sf_dir)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    return cols, rows


def run_oracle(con, sql: str):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return cols, rows


def run_oracle_pdf(con, sql: str):
    """Fetch the oracle result the way the driver does — via ``.df()`` —
    so DuckDB's pandas dtype coercions (HUGEINT→float64, Decimal→object,
    NULL-int→NaN) are visible to the comparison."""
    return con.execute(sql).df()


def compare(qname: str, spark, con, sf_dir: str, registry) -> list[str]:
    """Return a list of human-readable problems (empty = pass)."""
    q = registry[qname]
    problems: list[str] = []
    s_cols, s_rows = run_spark_query(q, spark, sf_dir)
    canon_err = driver_canon_check(s_cols, s_rows)
    if canon_err:
        problems.append(canon_err)
    if q.oracle is None:
        if not isinstance(s_rows, list):
            problems.append("spark query did not return rows")
        return problems
    o_cols, o_rows = run_oracle(con, q.oracle)
    if sorted(s_cols) != sorted(o_cols):
        problems.append(f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        return problems
    if len(s_rows) != len(o_rows):
        problems.append(f"row count: spark={len(s_rows)} oracle={len(o_rows)}")
    s_canon = canon_rows(s_cols, s_rows)
    o_canon = canon_rows(o_cols, o_rows)
    if s_canon != o_canon:
        diffs = [
            (a, b) for a, b in zip(s_canon, o_canon) if a != b
        ][:3]
        only_s = [r for r in s_canon[:2000] if r not in set(o_canon[:2000])][:2]
        problems.append(
            f"value mismatch ({sum(1 for a, b in zip(s_canon, o_canon) if a != b)} rows differ); "
            f"first diffs {diffs!r}; spark-only sample {only_s!r}"
        )
    # Driver-faithful pass: both sides through pandas, dtype coercion intact.
    import pandas as pd

    s_pdf = pd.DataFrame(list(s_rows), columns=s_cols)
    o_pdf = run_oracle_pdf(con, q.oracle)
    s_canon_pd = canon_rows_pdf(s_pdf)
    o_canon_pd = canon_rows_pdf(o_pdf)
    if s_canon_pd != o_canon_pd:
        diffs = [(a, b) for a, b in zip(s_canon_pd, o_canon_pd) if a != b][:3]
        problems.append(
            f"pandas-dtype mismatch (driver hash would differ): first diffs {diffs!r}"
        )
    return problems
