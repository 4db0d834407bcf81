"""the second TPC-H batch: the
decision-support shapes whose POINT is subquery/semi-join machinery
rather than plain star joins. q119 priority-lateness count (Q4 shape:
EXISTS semi-join against a correlated predicate), q120 nation-pair
shipping volume (Q7 shape: the same dimension joined on both fact
legs with a symmetric pair filter), q121 customer order-count
distribution (Q13 shape: left-outer retain-zeros + double
aggregation), q122 small-quantity revenue by part (Q17 shape:
correlated per-part scalar average), q123 large-volume orders (Q18
shape: HAVING over a fact aggregate joined back to its parents),
q124 disjunctive-predicate revenue (Q19 shape: OR of
brand/size/quantity triples), q125 top supplier per year (Q15 shape:
per-group equality-with-max), q126 dormant high-balance customers
(Q22 shape: global scalar threshold + anti-join).

Schema adaptations (the testdata lacks l_commitdate / l_receiptdate /
l_shipmode / p_container / c_phone / partsupp): Q4's lateness is
l_shipdate > o_orderdate; Q19 drops the container predicate; Q22's
"no orders at all" is empty here (every customer has orders), so the
dormancy cutoff is no orders on/after 2000-01-01; Q2/Q11/Q16/Q20 need
partsupp and are out of scope. The shapes are the public TPC-H
specification's, re-expressed over the testdata schema (no spec text
or generator code is used).

Reference parity: n/a — no analytics surface in the reference;
declared engine surface (SURVEY §2.C extension).

Determinism: every DOUBLE revenue/balance/quantity sum goes through
the dsum/dsum_sql DECIMAL(30,6) contract; every average is the exact
decimal sum divided once by the exact count (identical operand order
in both engines — never a float avg()); thresholds compare against
those exact-derived doubles identically on both sides; ORDER BY
always ends on a unique key.

Scale design (100 TB): ONE lineitem pass per query (q121/q126 touch
only orders/customer). EXISTS/anti-join legs are declared
left_semi/left_anti equi-joins (never IN-subquery materialization);
the correlated scalars (q122 per-part average, q125 per-year max,
q126 global mean) are computed as map-side-combined aggregates on the
REDUCED frames and joined back — the q122 stats join is a plain
per-part equi-join (brand key sets and per-part stats are
SF-proportional, so no forced broadcast), the q125 max rides a window
over the |years|×|suppliers| aggregate and only the WINNERS frame
(a few ties per year) is broadcast into the supplier name join, the
q126 mean is a 1-row broadcast. Explicit broadcast only on frames
whose size is bounded by the query itself (nation, the winners, the
1-row mean); AQE broadcasts filtered fact sides at test SFs on its
own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import _DEC, davg, davg_sql, dsum, dsum_sql, query, tables
from .tpch_ext import _REV, _rev_col


# ---------------------------------------------------------------------------
# q119 — TPC-H Q4 shape: priority lateness count
# ---------------------------------------------------------------------------

_Q119_ORACLE = (
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders "
    "FROM orders o "
    "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o_orderdate < TIMESTAMP '1996-04-01' "
    "AND EXISTS (SELECT 1 FROM lineitem l "
    "WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate) "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)

_Q119_DESCRIPTION = (
    "Q119: TPC-H Q4 shape — per-priority count of 1996-Q1 orders with "
    "at least one line shipped after the order date (lateness EXISTS, "
    "adapted to the schema's l_shipdate). The EXISTS is a left_semi "
    "equi-join on l_orderkey with the correlated date predicate in the "
    "join condition — one lineitem pass, no subquery materialization, "
    "map-side-combined |priorities| output."
)


@query("q119_tpch_q4_shape", oracle=_Q119_ORACLE,
       description=_Q119_DESCRIPTION, tags=("relational", "tpch"))
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    late = orders.join(
        t["lineitem"],
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q120 — TPC-H Q7 shape: nation-pair shipping volume
# ---------------------------------------------------------------------------

_NAT_A = "NATION_1"
_NAT_B = "NATION_3"

_Q120_ORACLE = (
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(year(l_shipdate) AS BIGINT) AS l_year, "
    + dsum_sql(_REV, "volume")
    + " FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    f"WHERE (n1.n_name = '{_NAT_A}' AND n2.n_name = '{_NAT_B}') "
    f"OR (n1.n_name = '{_NAT_B}' AND n2.n_name = '{_NAT_A}') "
    "GROUP BY supp_nation, cust_nation, l_year "
    "ORDER BY supp_nation, cust_nation, l_year"
)

_Q120_DESCRIPTION = (
    "Q120: TPC-H Q7 shape — shipping volume between a nation pair "
    "(both directions) per ship year: the same nation dimension joins "
    "both fact legs (supplier side and customer side) with a symmetric "
    "pair predicate. Both nation legs broadcast pre-filtered to the "
    "two nations — the filter prunes the fact rows AT the joins, not "
    "after; one lineitem pass; dsum DECIMAL volume; |2×years| rows."
)


@query("q120_tpch_q7_shape", oracle=_Q120_ORACLE,
       description=_Q120_DESCRIPTION, tags=("relational", "tpch"))
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    pair = t["nation"].where(F.col("n_name").isin(_NAT_A, _NAT_B))
    n1 = pair.select(F.col("n_nationkey").alias("n1_key"),
                     F.col("n_name").alias("supp_nation"))
    n2 = pair.select(F.col("n_nationkey").alias("n2_key"),
                     F.col("n_name").alias("cust_nation"))
    return (
        t["lineitem"]
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(_rev_col(), "volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# q121 — TPC-H Q13 shape: order-count distribution
# ---------------------------------------------------------------------------

_Q121_ORACLE = (
    "WITH oc AS (SELECT c_custkey, "
    "CAST(count(o_orderkey) AS BIGINT) AS n_orders "
    "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "GROUP BY c_custkey) "
    "SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers "
    "FROM oc GROUP BY n_orders ORDER BY n_orders"
)

_Q121_DESCRIPTION = (
    "Q121: TPC-H Q13 shape — the distribution of orders-per-customer: "
    "left outer join keeps zero-order customers (count(o_orderkey) "
    "counts non-null keys only), then a second aggregation folds "
    "customers into |distinct counts| histogram rows. Two map-side-"
    "combined shuffles, the second over the already-reduced customer "
    "frame; exact BIGINTs throughout."
)


@query("q121_tpch_q13_shape", oracle=_Q121_ORACLE,
       description=_Q121_DESCRIPTION, tags=("relational", "tpch"))
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    oc = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("n_orders"))
    )
    return (
        oc.groupBy("n_orders")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("n_orders")
    )


# ---------------------------------------------------------------------------
# q122 — TPC-H Q17 shape: small-quantity revenue by part
# ---------------------------------------------------------------------------

_BRAND = "Brand#1"

_Q122_ORACLE = (
    "WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = '" + _BRAND
    + "'), "
    "st AS (SELECT l_partkey, " + davg_sql("l_quantity", "qavg")
    + " FROM lineitem JOIN bp ON l_partkey = p_partkey GROUP BY l_partkey) "
    "SELECT l.l_partkey, "
    "CAST(round(0.2 * st.qavg * 1e6) AS BIGINT) "
    "AS threshold_qty_e6, "
    "CAST(count(*) AS BIGINT) AS n_small_lines, "
    + dsum_sql(_REV, "small_revenue")
    + " FROM lineitem l JOIN st ON l.l_partkey = st.l_partkey "
    "WHERE l.l_quantity < 0.2 * st.qavg "
    "GROUP BY l.l_partkey, threshold_qty_e6 ORDER BY l.l_partkey"
)

_Q122_DESCRIPTION = (
    "Q122: TPC-H Q17 shape — per-part revenue from lines below 20% of "
    "that part's average quantity, parts filtered to one brand. The "
    "correlated scalar average is a per-part aggregate (registry davg: "
    "exact decimal quantity sum / non-null count — ONE double "
    "division, identical operand order both engines) joined back to "
    "the same lines — never a correlated re-scan per row. Both the "
    "brand semi-join and the stats join are declared plain equi-joins "
    "(brand key sets and per-part stats are SF-proportional — forcing "
    "broadcast would lie at 100 TB; AQE broadcasts them at test SFs). "
    "Threshold exposed e6 for the oracle hash; dsum revenue; one "
    "cached brand-lineitem pass."
)


@query("q122_tpch_q17_shape", oracle=_Q122_ORACLE,
       description=_Q122_DESCRIPTION, tags=("relational", "tpch"))
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    bp = t["part"].where(F.col("p_brand") == _BRAND).select("p_partkey")
    bl = t["lineitem"].join(
        bp, F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    ).cache()  # two consumers (stats + the filtered re-read): uncached,
    #            each replays the lineitem scan (q80 lesson)
    st = bl.groupBy(F.col("l_partkey").alias("st_partkey")).agg(
        davg(F.col("l_quantity"), "qavg"))
    thr = F.lit(0.2) * F.col("qavg")
    return (
        bl.join(st, F.col("l_partkey") == F.col("st_partkey"))
        .where(F.col("l_quantity") < thr)
        .groupBy(
            "l_partkey",
            F.round(thr * F.lit(1e6)).cast("long").alias("threshold_qty_e6"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small_lines"),
            dsum(_rev_col(), "small_revenue"),
        )
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# q123 — TPC-H Q18 shape: large-volume orders
# ---------------------------------------------------------------------------

_MIN_QTY = 300
_TOP_ORDERS = 20

_Q123_ORACLE = (
    "WITH oq AS (SELECT l_orderkey, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS total_qty "
    "FROM lineitem GROUP BY l_orderkey "
    f"HAVING sum(CAST(l_quantity AS DECIMAL(30,6))) > {_MIN_QTY}) "
    "SELECT c_custkey, c_name, o_orderkey, "
    "CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_totalprice, total_qty "
    "FROM oq JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {_TOP_ORDERS}"
)

_Q123_DESCRIPTION = (
    "Q123: TPC-H Q18 shape — the top-20 largest orders above a "
    "300-unit total quantity: HAVING over an exact decimal per-order "
    "quantity sum, survivors joined back to orders/customer (the "
    "HAVING frame is tiny — AQE broadcasts it into both parent joins), "
    "TakeOrdered top-20 on (o_totalprice DESC, o_orderkey) — never a "
    "global sort. Orderdate rendered canonically for the cross-engine "
    "hash."
)


@query("q123_tpch_q18_shape", oracle=_Q123_ORACLE,
       description=_Q123_DESCRIPTION, tags=("relational", "tpch"))
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    qty_dec = F.sum(F.col("l_quantity").cast(_DEC))
    oq = (
        t["lineitem"].groupBy("l_orderkey")
        .agg(qty_dec.alias("qty_dec"))
        .where(F.col("qty_dec") > F.lit(_MIN_QTY))
        .select("l_orderkey",
                F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        oq.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
            .alias("o_orderdate"),
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(_TOP_ORDERS)
    )


# ---------------------------------------------------------------------------
# q124 — TPC-H Q19 shape: disjunctive-predicate revenue
# ---------------------------------------------------------------------------

_TRIPLES = (  # (brand, size_lo, size_hi, qty_lo, qty_hi)
    ("Brand#1", 1, 10, 1, 11),
    ("Brand#2", 11, 25, 10, 20),
    ("Brand#3", 26, 50, 20, 30),
)

_Q124_ORACLE = (
    "SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines, "
    + dsum_sql(_REV, "revenue")
    + " FROM lineitem JOIN part ON l_partkey = p_partkey WHERE "
    + " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi} "
        f"AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in _TRIPLES
    )
    + " GROUP BY p_brand ORDER BY p_brand"
)

_Q124_DESCRIPTION = (
    "Q124: TPC-H Q19 shape — revenue under an OR of three "
    "(brand, size-range, quantity-range) triples (container predicate "
    "dropped — no such column), grouped by brand. The disjunction "
    "stays ONE scan with the predicate evaluated post-join (brand/size "
    "from part, quantity from lineitem); the brand-only residue of the "
    "OR is pushable to the part scan by Catalyst; dsum revenue; "
    "|triples| rows."
)


@query("q124_tpch_q19_shape", oracle=_Q124_ORACLE,
       description=_Q124_DESCRIPTION, tags=("relational", "tpch"))
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    pred = None
    for b, slo, shi, qlo, qhi in _TRIPLES:
        leg = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        pred = leg if pred is None else (pred | leg)
    return (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .where(pred)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dsum(_rev_col(), "revenue"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# q125 — TPC-H Q15 shape: top supplier per year
# ---------------------------------------------------------------------------

_Q125_ORACLE = (
    "WITH sr AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year, "
    "l_suppkey, " + dsum_sql(_REV, "revenue")
    + " FROM lineitem GROUP BY l_year, l_suppkey), "
    "mx AS (SELECT l_year, l_suppkey, revenue, "
    "max(revenue) OVER (PARTITION BY l_year) AS mr FROM sr) "
    "SELECT l_year, l_suppkey, s_name, revenue "
    "FROM mx JOIN supplier ON l_suppkey = s_suppkey "
    "WHERE revenue = mr ORDER BY l_year, l_suppkey"
)

_Q125_DESCRIPTION = (
    "Q125: TPC-H Q15 shape — the top-revenue supplier(s) per ship "
    "year: equality-with-max over a per-(year, supplier) dsum frame. "
    "The max is a window on the ALREADY-AGGREGATED |years|×|suppliers| "
    "frame (never the fact table); ties all surface (deterministic — "
    "revenue is exact-decimal-derived, so equality is well-defined "
    "cross-engine); the WINNERS frame broadcasts into the supplier "
    "name join (supplier itself is SF-proportional — never forced); "
    "ordered on the unique (year, suppkey)."
)


@query("q125_tpch_q15_shape", oracle=_Q125_ORACLE,
       description=_Q125_DESCRIPTION, tags=("relational", "tpch"))
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    sr = (
        t["lineitem"]
        .groupBy(
            F.year("l_shipdate").cast("long").alias("l_year"),
            "l_suppkey",
        )
        .agg(dsum(_rev_col(), "revenue"))
    )
    w = Window.partitionBy("l_year")
    winners = (
        sr.withColumn("mr", F.max("revenue").over(w))
        .where(F.col("revenue") == F.col("mr"))
    )
    # broadcast the WINNERS (a few ties per year), never supplier —
    # supplier is SF-proportional and a forced broadcast would lie at
    # 100 TB (review finding)
    return (
        F.broadcast(winners)
        .join(t["supplier"].select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_year", "l_suppkey", "s_name", "revenue")
        .orderBy("l_year", "l_suppkey")
    )


# ---------------------------------------------------------------------------
# q126 — TPC-H Q22 shape: dormant high-balance customers
# ---------------------------------------------------------------------------

_DORMANT_CUTOFF = "2000-01-01"

_Q126_ORACLE = (
    "WITH m AS (SELECT " + davg_sql("c_acctbal", "mean_bal")
    + " FROM customer WHERE c_acctbal > 0), "
    "recent AS (SELECT DISTINCT o_custkey FROM orders "
    f"WHERE o_orderdate >= TIMESTAMP '{_DORMANT_CUTOFF}') "
    "SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, "
    "CAST(count(*) AS BIGINT) AS n_customers, "
    "CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal "
    "FROM customer, m "
    "WHERE c_acctbal > m.mean_bal "
    "AND c_custkey NOT IN (SELECT o_custkey FROM recent) "
    "GROUP BY c_nationkey ORDER BY c_nationkey"
)

_Q126_DESCRIPTION = (
    "Q126: TPC-H Q22 shape — customers with above-average positive "
    "balance and NO order since 2000 (every customer here has SOME "
    "order, so spec-literal 'no orders' is empty — dormancy is the "
    "faithful adaptation), per nation. The global mean is an exact "
    "decimal sum / count (one double division, 1-row broadcast cross); "
    "the 'no recent orders' leg is a left_anti equi-join against the "
    "date-filtered orders (never an IN materialization); dsum "
    "balances; |nations| rows."
)


@query("q126_tpch_q22_shape", oracle=_Q126_ORACLE,
       description=_Q126_DESCRIPTION, tags=("relational", "tpch"))
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tables(spark, sf_dir)
    m = (
        t["customer"].where(F.col("c_acctbal") > 0)
        .agg(davg(F.col("c_acctbal"), "mean_bal"))
    )
    recent = t["orders"].where(
        F.col("o_orderdate") >= F.to_timestamp(F.lit(_DORMANT_CUTOFF))
    ).select("o_custkey")
    return (
        t["customer"]
        .crossJoin(F.broadcast(m))
        .where(F.col("c_acctbal") > F.col("mean_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            dsum(F.col("c_acctbal"), "total_bal"),
        )
        .orderBy("c_nationkey")
    )


__all__ = ["q119", "q120", "q121", "q122", "q123", "q124", "q125", "q126"]
