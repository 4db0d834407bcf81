"""Adversarial edge-corpus parity for the registered q109–q134 surface:
every builder of the modules below and its DuckDB oracle run over a
crafted tiny warehouse whose rows hit the paths the generated
testdata never does —

- a customer with ZERO orders (q121's zero-retention left join and
  q126's spec-literal no-orders branch are live for the first time);
- a lineitem shipped BEFORE its order, intra-day (negative latency:
  the exact floor-vs-truncate divergence tests/test_division_convention.py
  pins — q129 must bucket it as day 0, not day −1);
- two events at the SAME (user, timestamp) and a single-event user
  (zero-duration session intervals for q131; duplicate (user, day)
  pairs for q118);
- an empty-string document, a whitespace-only document, and an exact
  duplicate pair (tokenizer "" edge; simhash hamming-0 collapse for
  q115/q116/q132);
- two IDENTICAL embedding vectors under one label (q127 distance
  ties broken by vec_id; q130 assignment ties to the lowest list)
  and an all-zero vector (distances fine — no norm division in these
  entries);
- filters that match NOTHING (q123's 300-quantity HAVING, q109's
  ASIA/1996 window on the one non-ASIA order) — empty-result parity.

Parity needs no referential integrity or statistical realism: both
engines read the same parquet, so every entry can be checked on data
chosen purely for its degeneracy. A failure here is a real
builder/oracle contract divergence.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bucket_to_bigquery_spark.queries import (
    actives,
    concurrency,
    coverage,
    embed_outliers,
    funnel_ttc,
    hamming,
    inflation,
    latency,
    lloyd_step,
    neardup_cc,
    profiling,
    seasonality,
    temperature,
    tpch_ext,
    tpch_ext2,
)

from .oracle import compare, duck_connection, module_entries

ENTRIES = module_entries(
    tpch_ext, tpch_ext2, profiling, temperature, hamming, inflation,
    coverage, actives, embed_outliers, seasonality, latency, lloyd_step,
    concurrency, neardup_cc, funnel_ttc,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _write(path, names, cols, types):
    pq.write_table(
        pa.table({n: pa.array(c, type=t)
                  for n, c, t in zip(names, cols, types)}),
        path,
    )


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tus = pa.timestamp("us")
    _write(d / "region.parquet", ["r_regionkey", "r_name"],
           [[0, 1], ["ASIA", "NOWHERE"]], [i32, s])
    _write(d / "nation.parquet", ["n_nationkey", "n_name", "n_regionkey"],
           [[0, 1, 2], ["NATION_1", "NATION_2", "NATION_3"], [0, 0, 1]],
           [i32, s, i32])
    _write(d / "customer.parquet",
           ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"],
           [[1, 2, 3],
            ["Customer#1", "Customer#2", "Customer#3"],
            [0, 1, 2],
            [-10.5, 0.0, 5000.0],  # negative / exactly-zero / large
            ["BUILDING", "AUTO", "AUTO"]],
           [i64, s, i32, f64, s])
    _write(d / "supplier.parquet",
           ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
           [[1, 2], ["Supplier#1", "Supplier#2"], [0, 2], [1.0, 2.0]],
           [i64, s, i32, f64])
    _write(d / "part.parquet",
           ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
            "p_retailprice"],
           [[1, 2, 3], ["pa", "pb", "pc"],
            ["Brand#1", "Brand#1", "Brand#2"],
            ["PROMO", "STANDARD", "PROMO"],
            [5, 30, 15], [10.0, 20.0, 30.0]],
           [i64, s, s, s, i32, f64])
    # customer 3 has ZERO orders; order 4 is post-dormancy-cutoff
    _write(d / "orders.parquet",
           ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"],
           [[1, 2, 3, 4],
            [1, 1, 2, 2],
            ["F", "O", "F", "O"],
            [100.0, 200.0, 300.0, 400.0],
            [_ts("1996-02-10 12:00:00"), _ts("1997-03-01 00:00:00"),
             _ts("1997-02-15 08:30:00"), _ts("2000-06-01 00:00:00")],
            ["1-URGENT", "2-HIGH", "1-URGENT", "5-LOW"]],
           [i64, i64, s, f64, tus, s])
    # line 4 ships SIX HOURS BEFORE its order (intra-day negative
    # latency: trunc day 0, floor day -1); identical quantities for
    # tie paths; one 'R' return in 1997-H1 for q110
    _write(d / "lineitem.parquet",
           ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"],
           [[1, 1, 2, 3, 3, 4],
            [1, 2, 1, 3, 3, 2],
            [1, 2, 1, 2, 1, 2],
            [1, 2, 1, 1, 2, 1],
            [5.0, 5.0, 1.0, 20.0, 20.0, 7.0],
            [50.0, 55.0, 10.0, 200.0, 210.0, 70.0],
            [0.1, 0.0, 0.05, 0.2, 0.0, 0.1],
            [0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
            ["N", "N", "R", "R", "N", "N"],
            ["F", "F", "O", "F", "O", "O"],
            [_ts("1996-02-20 00:00:00"), _ts("1996-03-01 10:00:00"),
             _ts("1997-04-01 00:00:00"), _ts("1997-02-16 00:00:00"),
             _ts("1997-02-20 00:00:00"), _ts("2000-05-31 18:00:00")]],
           [i64, i64, i64, i32, f64, f64, f64, f64, s, s, tus])
    # user 10: two events at the SAME timestamp + one crossing
    # midnight within the 6h session gap; user 20: a single event
    _write(d / "events.parquet",
           ["event_id", "ts", "user_id", "event_type", "value", "props"],
           [[1, 2, 3, 4, 5, 6],
            [_ts("1999-01-01 23:30:00"), _ts("1999-01-01 23:30:00"),
             _ts("1999-01-02 01:00:00"), _ts("1999-01-05 09:00:00"),
             _ts("1999-01-02 00:30:00"), _ts("1999-01-02 00:30:00")],
            [10, 10, 10, 20, 30, 30],
            ["view", "view", "click", "view", "view", "purchase"],
            [1.0, 2.0, None, 4.0, 5.0, 6.0],
            ["{}", "{}", None, "{}", "{}", "{}"]],
           [i64, tus, i64, s, f64, s])
    # "" and whitespace-only normalize to the same empty token list →
    # SAME simhash cluster; an exact duplicate pair; one unique doc
    texts = ["", "  \t ", "hello world", "hello world", "unique words here"]
    _write(d / "documents.parquet",
           ["doc_id", "text", "lang", "source", "n_chars"],
           [[1, 2, 3, 4, 5], texts,
            ["en"] * 5, ["web", "web", "book", "book", "web"],
            [len(t) for t in texts]],
           [i64, s, s, s, i64])
    dim = 64
    base = [0.1 * ((j % 7) - 3) for j in range(dim)]
    other = [0.05 * ((j % 5) - 2) for j in range(dim)]
    _write(d / "embeddings.parquet",
           ["vec_id", "embedding", "label"],
           [[1, 2, 3, 4],
            [base, base, [0.0] * dim, other],  # identical pair + zeros
            [0, 0, 1, 1]],
           [i64, pa.list_(pa.float32()), i32])
    return str(d)


def test_every_staged_entry_matches_oracle_on_edges(spark, edge_dir):
    duck = duck_connection(edge_dir)
    problems_all = []
    try:
        for name in sorted(ENTRIES):
            try:
                problems = compare(name, spark, duck, edge_dir, ENTRIES)
            except Exception as e:  # noqa: BLE001
                problems = [f"EXCEPTION {type(e).__name__}: {e}"]
            if problems:
                problems_all.append(f"{name}: " + "; ".join(problems)[:400])
    finally:
        duck.close()
    assert not problems_all, "\n".join(problems_all)


def test_edge_corpus_exercises_the_degenerate_paths(spark, edge_dir):
    """The fixture's POINT, pinned so a fixture edit cannot silently
    drop an edge: zero-order customer visible to q121, the negative
    intra-day latency bucketed as day 0 (trunc, not floor), the
    ""/whitespace docs collapsing into one simhash cluster, and the
    identical-vector tie ranked by vec_id."""
    q121 = ENTRIES["q121_tpch_q13_shape"].builder(spark, edge_dir).collect()
    assert any(r.n_orders == 0 and r.n_customers == 1 for r in q121)

    q129 = {r.priority: r for r in
            ENTRIES["q129_ship_latency_percentiles"]
            .builder(spark, edge_dir).collect()}
    assert q129["5-LOW"].p50_days == 0  # shipped 6h BEFORE the order
    assert q129["5-LOW"].max_days == 0

    q116 = ENTRIES["q116_dup_inflation"].builder(spark, edge_dir).collect()
    assert [(r.cluster_size, r.n_clusters) for r in q116] == [(1, 1), (2, 2)]

    q127 = ENTRIES["q127_embedding_outliers"].builder(
        spark, edge_dir).collect()
    lbl0 = [r for r in q127 if r.label == 0]
    assert [r.vec_id for r in lbl0] == [1, 2]  # tie → vec_id order
    assert lbl0[0].dist_sq_e12 == lbl0[1].dist_sq_e12 == 0
