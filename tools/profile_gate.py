"""Time each registered query, in name order, at a given sf_dir: the
Spark side (build and collect) and its DuckDB oracle side separately,
one JSON line per query, then the slowest twelve.  The session is
``session.get_spark()``, so the core count follows ``SPARK_GRAFT_CPUS``.
Usage:

    python tools/profile_gate.py [sf_dir] [only_prefix...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bucket_to_bigquery_spark.queries import all_queries
from bucket_to_bigquery_spark.session import get_spark

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from oracle import duck_connection  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    spark = get_spark("profile-gate")
    con = duck_connection(sf_dir)
    registry = all_queries()
    names = sorted(registry)
    if only:
        names = [n for n in names if any(n.startswith(p) for p in only)]
    out = []
    total0 = time.monotonic()
    for name in names:
        q = registry[name]
        t0 = time.monotonic()
        try:
            df = q.builder(spark, sf_dir)
            n = len(df.toPandas())
            spark_s = time.monotonic() - t0
            err = None
        except Exception as e:  # noqa: BLE001
            spark_s = time.monotonic() - t0
            n, err = -1, f"{type(e).__name__}: {e}"[:200]
        t1 = time.monotonic()
        o_s = 0.0
        if q.oracle is not None and err is None:
            try:
                con.execute(q.oracle).df()
                o_s = time.monotonic() - t1
            except Exception as e:  # noqa: BLE001
                o_s = time.monotonic() - t1
                err = f"oracle {type(e).__name__}: {e}"[:200]
        rec = {"q": name, "spark_s": round(spark_s, 2), "oracle_s": round(o_s, 2), "rows": n}
        if err:
            rec["err"] = err
        out.append(rec)
        print(json.dumps(rec), flush=True)
    total = time.monotonic() - total0
    out.sort(key=lambda r: -(r["spark_s"] + r["oracle_s"]))
    print(f"\nTOTAL {total:.1f}s; slowest:")
    for r in out[:12]:
        print(f"  {r['q']}: spark={r['spark_s']} oracle={r['oracle_s']}")


if __name__ == "__main__":
    main()
