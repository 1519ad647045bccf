"""Canonical TPC-H queries (adapted to the reduced fixture schema).

The fixture is TPC-H-shaped minus partsupp/commitdate/receiptdate/
shippriority/container, so the classic queries expressible on it run in
their canonical form with those columns elided: Q3 (shipping priority),
Q5 (local supplier volume), Q6 (forecast revenue change), Q10 (returned
items), Q14 (promotion effect), Q19 (discounted revenue, bracket
predicates).  Q1 and Q18 shapes already exist as ``pricing_summary`` and
``top_orders_per_customer``.

Partsupp-centric queries run as ADAPTED shapes that keep each query's
signature plan element: Q9 (5-table star + year extract; profit elides
supplycost), Q11 (fraction-of-global HAVING, exact integer-cents
compare), Q16 (NOT IN exclusion + COUNT DISTINCT; supplier-part pairs
from lineitem), Q20 (nested semi-join chain; fixed shipped-qty bar
instead of availqty).  Q2 is the one classic with no faithful
restatement on this schema (it IS a partsupp min-cost lookup) and is
deliberately absent.

All plans follow the scale rules: dimension sides broadcast, predicates
before joins (pushed to scans), aggregates map-side partial first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table

def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) * 10000, 0) / 10000 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: top unshipped-revenue orders for one market segment."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-03-15")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    return (
        # orders is a FACT (the date filter keeps ~half of it): no broadcast
        # hint — AQE picks BHJ at small SF and shuffle join at scale
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.round(F.sum(_rev()) * 10000, 0) / 10000).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)) * 10000, 0) / 10000 AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: revenue where customer and supplier share a nation, per nation of
    one region."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((F.round(F.sum(_rev()) * 10000, 0) / 10000).alias("revenue"))
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount) * 10000, 0) / 10000 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: revenue increase from hypothetically eliminating small discounts —
    a pure scan+filter+agg whose predicates must all reach the parquet scan."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")) * 10000, 0) / 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) * 10000, 0) / 10000 AS revenue,
           n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: customers who returned the most revenue in a quarter."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.round(F.sum(_rev()) * 10000, 0) / 10000).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q14_promo_effect",
    oracle="""
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 2) AS promo_pct,
           COUNT(*) AS n_lines
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: share of monthly revenue from promotional parts."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 2).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q19_discounted_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)) * 10000, 0) / 10000 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND (
        (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
         AND l_quantity BETWEEN 1 AND 11)
        OR
        (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
         AND l_quantity BETWEEN 10 AND 20)
        OR
        (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
         AND l_quantity BETWEEN 20 AND 30)
      )
    """,
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: bracketed OR-of-ANDs join predicate — Catalyst keys the join on
    p_partkey = l_partkey and evaluates the brackets as the join residual
    (no cartesian fallback)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), (l.l_partkey == p.p_partkey) & bracket)
        .agg(
            (F.round(F.sum(_rev()) * 10000, 0) / 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# Spark runs the oracle's own text, the tables passed as frames
_Q17 = """
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM {lineitem}, {part}
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#1'
      AND l_quantity < (
          SELECT 0.2 * AVG(l_quantity)
          FROM {lineitem} l2
          WHERE l2.l_partkey = p_partkey
      )
    """


@query(
    "tpch_q17_small_quantity_revenue",
    oracle=_Q17.format(lineitem="lineitem", part="part"),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 (brand-only adaptation): revenue lost if small-quantity orders
    below 20%% of a part's average were not taken — the CORRELATED SCALAR
    SUBQUERY surface.  Catalyst de-correlates it into an aggregate + join
    (no per-row re-execution), which is the only shape that scales."""
    return spark.sql(
        _Q17,
        lineitem=load_table(spark, sf_dir, "lineitem"),
        part=load_table(spark, sf_dir, "part"),
    )


@query(
    "tpch_q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o_totalprice, 2) AS totalprice,
           SUM(l_quantity) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
          )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 canonical: orders whose total quantity exceeds a threshold — the
    IN-over-aggregated-subquery surface (planned as a semi join against the
    grouped lineitem, one extra aggregate, no correlated re-execution)."""
    l = load_table(spark, sf_dir, "lineitem")
    # order keys whose lineitems total more than 250 units
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        l.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    WITH all_nations AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part, supplier, lineitem, orders, customer,
             nation n1, nation n2, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
          AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
                 / SUM(volume), 2) AS mkt_share,
           COUNT(*) AS n_lines
    FROM all_nations
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 canonical (8-table join): NATION_2's share of ECONOMY-part revenue
    sold into ASIA-region customers, per order year.  Nation joins twice
    (customer side for the region filter, supplier side for the share) —
    both broadcast; the only shuffle is the fact-to-orders join + final
    aggregate."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    share = F.when(F.col("n2.n_name") == "NATION_2", vol).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(F.sum(share) / F.sum(vol), 2).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)) * 10000, 0) / 10000 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: supplier(s) with the maximum quarterly revenue — the
    view-plus-scalar-subquery shape.  The revenue aggregate is computed once
    and reused for both the max and the equality filter (Catalyst reuses the
    exchange; the rounded value makes the max comparison engine-exact)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        l.filter((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg((F.round(F.sum(_rev()) * 10000, 0) / 10000).alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), revenue.total_revenue == mx.mx)
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# Spark runs the oracle's own text, the tables passed as frames
_Q4 = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM {orders}
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
          SELECT 1 FROM {lineitem}
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """


@query(
    "tpch_q4_order_priority",
    oracle=_Q4.format(orders="orders", lineitem="lineitem"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (adapted: ship-after-order stands in for the absent
    commitdate<receiptdate): per-priority count of orders with at least one
    late-shipping lineitem — the CORRELATED EXISTS surface, planned as a
    left-semi join whose correlation carries an extra non-equi predicate."""
    return spark.sql(
        _Q4,
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume) * 10000, 0) / 10000 AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier, lineitem, orders, customer, nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey
          AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: bilateral trade volume between two nations by ship year (canonical,
    nation names adapted to the fixture's NATION_k vocabulary).

    The nation-pair disjunction is pre-split: each nation scan keeps only the
    two named nations (broadcast, 2 rows), the pair residual applies after
    both joins.  lineitem⋈orders is the one fact-fact shuffle; supplier,
    customer, and both nation sides broadcast."""
    pair = ("NATION_1", "NATION_2")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg((F.round(F.sum(_rev()) * 10000, 0) / 10000).alias("revenue"))
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: distribution of customers by order count (canonical-adapted: the
    fixture has no o_comment, so the 'special requests' exclusion becomes an
    o_orderpriority predicate — same left-join-then-double-aggregate shape).

    customer⟕orders must shuffle on custkey (outer-preserved side can't
    broadcast); the two aggregations reuse that partitioning for the first
    and reduce to c_count cardinality for the second."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    SELECT c_nationkey AS cntry,
           COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: well-funded customers who never ordered, per country
    (canonical-adapted: the fixture has no c_phone, so the phone-prefix
    country code becomes c_nationkey, and — since every fixture customer has
    ordered — 'never ordered' becomes 'never placed a 1-URGENT order'; same
    uncorrelated-scalar-subquery + anti-join-with-predicate + aggregate
    shape.  TPC-H spec is public; the reference has no query surface).

    Plan: the AVG is a one-row aggregate broadcast into the filter; the
    NOT EXISTS compiles to a left-anti shuffle join on custkey (orders can't
    broadcast at scale); one final aggregate on nationkey."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_avg"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "tpch_q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 (adapted: the fixture has no l_shipmode/commitdate/receiptdate —
    l_returnflag stands in for ship mode and ship-after-order for the late
    predicate, as in Q4): per-class counts of high- vs low-priority orders
    among late lineitems — the CONDITIONAL AGGREGATION surface (SUM CASE).

    One fact-fact shuffle (lineitem ⋈ orders on orderkey); the year filter
    is pushed to the lineitem scan; both CASE sums fold into a single
    partial-aggregated groupBy."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q21_suppliers_kept_waiting",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate
      )
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_1'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 (adapted late predicate as in Q4/Q12): suppliers who were the
    SOLE late supplier on a multi-supplier finished order.

    Spark-first reformulation of the double correlated subquery: the
    EXISTS/NOT EXISTS pair is equivalent to two per-order aggregates —
    ``n_supp >= 2`` (another supplier exists) and ``n_late_supp == 1`` (no
    OTHER late supplier, given l1 itself is late).  That turns two
    correlated join passes over lineitem into one late-line build plus two
    keyed aggregates, all hashing on l_orderkey (co-partitioned — AQE
    reuses the exchange), then a broadcast of the 1-nation supplier dim.
    Final TakeOrdered(100) on (numwait DESC, s_name), never a global sort."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    lines = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        lines.join(o, lines.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select("l_orderkey", "l_suppkey")
    )
    n_supp = lines.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp")
    )
    n_late = late.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_late_supp")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    sole_late = (
        late.join(n_late, "l_orderkey")
        .filter(F.col("n_late_supp") == 1)
        .join(n_supp, "l_orderkey")
        .filter(F.col("n_supp") >= 2)
    )
    return (
        sole_late.join(
            F.broadcast(
                s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
                    "s_suppkey", "s_name"
                )
            ),
            sole_late.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@query(
    "tpch_q9_product_type_profit",
    oracle="""
    SELECT nation, o_year,
           ROUND(SUM(amount) * 100, 0) / 100 AS sum_profit,
           COUNT(*) AS n_lines
    FROM (
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
               l_extendedprice * (1 - l_discount) AS amount
        FROM part, supplier, lineitem, orders, nation
        WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
          AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
          AND p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
)
def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 adapted (no partsupp in the fixture, so profit elides the
    ``ps_supplycost * l_quantity`` term and is gross revenue): per
    supplier-nation per order-year revenue on name-filtered parts.
    Keeps Q9's plan shape — a 5-table star with the part name LIKE
    pushed to the dimension scan, supplier+nation broadcast, and the
    year extracted AFTER the fact joins."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            (F.round(F.sum(_rev()) * 100, 0) / 100).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q11_important_parts",
    oracle="""
    WITH pr AS (
        SELECT l_partkey,
               CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100, 0)
                    AS BIGINT) AS value_cents
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_3'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, value_cents
    FROM pr
    WHERE value_cents * 1000 > (SELECT SUM(value_cents) FROM pr)
    ORDER BY value_cents DESC, p_partkey
    """,
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 adapted (partsupp value -> shipped revenue): parts whose
    NATION_3-supplied revenue exceeds 0.1 % of that nation's total — the
    fraction-of-GLOBAL-aggregate HAVING that makes Q11 interesting.  The
    per-part aggregate is computed ONCE (lazy-checkpointed), the global
    total folds from the per-part rows (part-count-sized, not a second
    corpus scan) and rides back as a broadcast 1-row cross join.  The
    share comparison is exact INTEGER arithmetic on cents (value_cents *
    1000 > total_cents) — no float-boundary flakiness between engines."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    l = load_table(spark, sf_dir, "lineitem")
    pr = (
        l.join(
            F.broadcast(
                s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum(_rev()) * 100, 0).cast("bigint").alias("value_cents")
        )
        .localCheckpoint(eager=False)  # consumed by the filter AND the total
    )
    tot = pr.agg(F.sum("value_cents").alias("_total_cents"))
    return (
        pr.crossJoin(F.broadcast(tot))
        .where(F.col("value_cents") * 1000 > F.col("_total_cents"))
        .select(F.col("l_partkey").alias("p_partkey"), "value_cents")
        .orderBy(F.desc("value_cents"), "p_partkey")
    )


@query(
    "tpch_q16_supplier_part_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#3'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 14, 19, 24, 28, 35)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_name LIKE '%0009%'
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 adapted (supplier-part relationships from lineitem instead of
    partsupp): distinct supplier counts per (brand, type, size) bucket
    excluding complaint-pattern suppliers.  Keeps Q16's two signature
    pieces — the NOT IN exclusion (a broadcast ANTI join here; key is
    non-null so the semantics coincide) and the COUNT(DISTINCT) over a
    many-to-many fact."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 35))
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%0009%"))
        .select("s_suppkey")
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q20_excess_suppliers",
    oracle="""
    SELECT s_name, n_name
    FROM supplier, nation
    WHERE s_nationkey = n_nationkey
      AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem
          WHERE l_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
          )
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          GROUP BY l_suppkey, l_partkey
          HAVING SUM(l_quantity) > 30
      )
    ORDER BY s_name
    """,
)
def tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 adapted (no partsupp availqty, so the "excess stock" bar is a
    fixed shipped-quantity threshold): suppliers in three nations who
    moved > 30 units of some red part in 1996.  Keeps Q20's NESTED
    SEMI-JOIN shape: part-name IN (innermost, broadcast) -> grouped
    HAVING on (supplier, part) -> supplier IN (semi join).  The HAVING
    sum is integer-valued quantities, so the threshold compare is exact
    in any engine.  At 100 TB every join here is either broadcast (part
    names, nation) or a semi join that only carries supplier keys."""
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    s = load_table(spark, sf_dir, "supplier")
    red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    heavy = (
        l.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "leftsemi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 30)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "leftsemi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )
