"""Tier B — relational query catalog (SURVEY.md §2 Tier B).

The reference implements none of this (SURVEY.md §2 "Not present anywhere in
the reference"); it is new surface mandated by the north star.  Every query is
declarative DataFrame API so Catalyst owns pushdown/pruning/join selection;
dimension tables are explicitly ``broadcast()`` where a 100 TB fact side makes
a shuffle join the wrong plan.

Determinism conventions (the driver value-hashes results):
- every float aggregate is ``round(...)``-ed identically on both sides;
- every top-k has a total-order tie-break on a key column;
- timestamps are bucketed (``date_trunc`` → date) before output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators.asof import asof_join
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table


# ---------------------------------------------------------------------------
# Flagship: scan + filter + 3-way join + agg + sort (SURVEY.md §7 Phase 1)
# ---------------------------------------------------------------------------
@query(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)) * 10000, 0) / 10000 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by customer nation over one ship-year.

    Scale notes: lineitem is the 100 TB fact side — the shipdate filter is
    pushed to the parquet scan; ``customer``/``nation`` are broadcast so the
    only shuffle is the final groupBy on 25 nation keys (partial aggregation
    map-side first).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            (F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000, 0) / 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc())
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-style pricing summary: wide aggregate, partial+final agg
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) * 10000, 0) / 10000 AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS BIGINT) // 1000000) AS DOUBLE)
             + CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS BIGINT) % 1000000) AS DOUBLE) / 1000000 AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 6)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            # Product sums are tie-proofed by rescaling to their exact integer
            # grid: ROUND(sum, 2) of a 4/6-decimal rational half-tie flips
            # with summation order between engines (~1% of rows are ties).
            # The 4dp grid snaps the FLOAT sum (sum*1e4 < 2^53 through ~sf1e6
            # — safe); the 6dp grid would cross 2^53 near sf0.2, so sum_charge
            # sums PER-ROW exact integers (the true product*1e6 is an integer;
            # float error ~1e-4 never reaches the .5 tie) — split into
            # quotient/remainder LONG sums so the aggregate stays in codegen'd
            # 64-bit arithmetic (a decimal(38,0) sum here cost 3.96x): the
            # quotient sum overflows long only past ~1e14 rows, the remainder
            # sum past ~9e12 rows.  Both engines then run the identical
            # double-conversion formula on the same exact integers —
            # bit-identical, order-immune at any SF.
            (F.round(F.sum(disc_price) * 10000, 0) / 10000).alias("sum_disc_price"),
            (
                F.sum(F.floor(F.round(disc_price * (1 + F.col("l_tax")) * 1000000, 0).cast("long") / 1000000)).cast("double")
                + F.sum(F.round(disc_price * (1 + F.col("l_tax")) * 1000000, 0).cast("long") % 1000000).cast("double")
                / 1000000
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Window functions: per-group top-k with deterministic tie-break
# ---------------------------------------------------------------------------
@query(
    "top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rnk
        FROM orders
    )
    WHERE rnk <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window — no global sort, shuffles once
    on o_custkey; at scale this is the standard pattern (never collect+sort)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "customer_order_window_stats",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           ROUND(o_totalprice, 2) AS total_price,
           RANK()       OVER w AS price_rank,
           DENSE_RANK() OVER w AS price_dense_rank,
           ROUND(LAG(o_totalprice)  OVER w2, 2) AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w2, 2) AS next_price,
           ROUND(SUM(o_totalprice)  OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC),
           w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def customer_order_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/lag/lead + running frame aggregate in one pass (one
    shuffle on o_custkey reused by all four window specs)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    w2 = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    w2run = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.round(F.lag("o_totalprice").over(w2), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w2), 2).alias("next_price"),
        F.round(F.sum("o_totalprice").over(w2run), 2).alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# Rollup / cube / grouping sets
# ---------------------------------------------------------------------------
# order count and spend per group of orders joined to customers; the
# GROUP BY clause follows
_SEGMENT_SPEND = """
    SELECT c_mktsegment,
           o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_spend
    FROM {orders} o
    JOIN {customer} c ON o.o_custkey = c.c_custkey
"""
_TABLE_NAMES = {"orders": "orders", "customer": "customer"}


@query(
    "market_segment_rollup",
    oracle=_SEGMENT_SPEND.format(**_TABLE_NAMES)
    + "GROUP BY ROLLUP (c_mktsegment, o_orderpriority)",
)
def market_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .rollup("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )


@query(
    "returnflag_cube",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def returnflag_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Join family: semi / anti / theta-augmented equi-join
# ---------------------------------------------------------------------------
@query(
    "parts_never_ordered",
    oracle="""
    SELECT p_partkey, p_name
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join; at scale the lineitem side is pre-aggregated to distinct
    keys by Catalyst (anti-join build side) — no row explosion."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    return p.join(l, p.p_partkey == l.l_partkey, "left_anti").select("p_partkey", "p_name")


@query(
    "customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "late_shipments",
    oracle="""
    SELECT o.o_orderkey,
           l.l_linenumber,
           CAST(DATEDIFF('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS days_to_ship
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    """,
)
def late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with an extra theta (range) condition — Catalyst keeps the
    hash join on l_orderkey and applies the range predicate as a post-filter,
    which is the right plan at any scale."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        l.join(
            o,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .select(
            "o_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("bigint").alias("days_to_ship"),
        )
    )


@query(
    "full_outer_nation_balance",
    oracle="""
    SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
           cn.customer_balance,
           sn.supplier_balance
    FROM (
        SELECT c_nationkey AS nationkey, ROUND(SUM(c_acctbal), 2) AS customer_balance
        FROM customer GROUP BY c_nationkey
    ) cn
    FULL OUTER JOIN (
        SELECT s_nationkey AS nationkey, ROUND(SUM(s_acctbal), 2) AS supplier_balance
        FROM supplier GROUP BY s_nationkey
    ) sn ON cn.nationkey = sn.nationkey
    """,
)
def full_outer_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.round(F.sum("c_acctbal"), 2).alias("customer_balance")
    )
    sn = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.round(F.sum("s_acctbal"), 2).alias("supplier_balance")
    )
    return cn.join(sn, "nationkey", "full_outer").select(
        F.col("nationkey"), "customer_balance", "supplier_balance"
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
@query(
    "nations_with_customers_and_suppliers",
    oracle="""
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
)
def nations_with_customers_and_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "nations_without_rich_suppliers",
    oracle="""
    SELECT DISTINCT c_nationkey AS nationkey FROM customer WHERE c_acctbal < 0
    EXCEPT
    SELECT DISTINCT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
    """,
)
def nations_without_rich_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics) — ``subtract``, not ``exceptAll`` (bag)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    return c.subtract(s)


@query(
    "all_party_names_union",
    oracle="""
    SELECT party_name, party_kind, COUNT(*) AS n
    FROM (
        SELECT c_name AS party_name, 'customer' AS party_kind FROM customer
        UNION ALL
        SELECT s_name AS party_name, 'supplier' AS party_kind FROM supplier
    )
    GROUP BY party_name, party_kind
    """,
)
def all_party_names_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("party_name"), F.lit("customer").alias("party_kind")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("party_name"), F.lit("supplier").alias("party_kind")
    )
    return c.unionByName(s).groupBy("party_name", "party_kind").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Sort / limit / global top-k
# ---------------------------------------------------------------------------
@query(
    "global_top10_orders",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def global_top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit compiles to TakeOrderedAndProject — per-partition top-10
    then a driver merge of 10×P rows, never a global sort. Correct at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Aggregation extras: exact count-distinct (oracle) — approx variant is
# rows-only (sketches differ across engines) and lives in llm.py's pytest.
# ---------------------------------------------------------------------------
@query(
    "segment_count_distinct",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT o_custkey) AS n_active_customers,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def segment_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_active_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series style aggregation + running total over months
# ---------------------------------------------------------------------------
@query(
    "monthly_revenue_running",
    oracle="""
    WITH monthly AS (
        SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS month,
               ROUND(SUM(o_totalprice), 2) AS revenue,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY 1
    )
    SELECT month, revenue, n_orders,
           ROUND(SUM(revenue) OVER (ORDER BY month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
    FROM monthly
    """,
)
def monthly_revenue_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias("month")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # global (unpartitioned) window is INTENTIONAL and scale-safe: it runs on
    # the already-aggregated per-month table, whose cardinality is the number
    # of months in the data (~100 rows at ANY corpus size), not the fact table
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        "month", "revenue", "n_orders", F.round(F.sum("revenue").over(w), 2).alias("cum_revenue")
    )


# ---------------------------------------------------------------------------
# Scalar function families: string+date+math (one combined query), map+json
# (one combined query), array.  Combined deliberately — six single-family
# showcase queries burned driver-verification window slots for no extra
# function coverage (round-2 verdict ask #1).
# ---------------------------------------------------------------------------
@query(
    "scalar_string_date_math",
    oracle="""
    SELECT l.l_orderkey,
           LOWER(p.p_name)                                 AS name_lower,
           UPPER(p.p_brand)                                AS brand_upper,
           SUBSTRING(p.p_type, 1, 5)                       AS type_prefix,
           REGEXP_EXTRACT(p.p_name, '([0-9]+)', 1)         AS first_number,
           LEVENSHTEIN(p.p_brand, p.p_type)                AS brand_type_dist,
           LENGTH(p.p_name)                                AS name_len,
           CONCAT(p.p_brand, ':', p.p_type)                AS brand_type,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT)    AS order_year,
           CAST(EXTRACT(QUARTER FROM o.o_orderdate) AS INT) AS order_quarter,
           ROUND(SQRT(l.l_extendedprice), 4)        AS price_sqrt,
           ROUND(LN(l.l_extendedprice + 1), 6)      AS price_ln,
           ROUND(POW(l.l_discount, 2), 6)           AS disc_sq,
           CAST(CEIL(l.l_quantity) AS BIGINT)       AS qty_ceil,
           CAST(FLOOR(l.l_quantity) AS BIGINT)      AS qty_floor,
           ABS(l.l_tax - l.l_discount) > 0.05       AS tax_gap
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p   ON l.l_partkey = p.p_partkey
    WHERE l.l_linenumber = 1 AND l.l_orderkey % 10 = 0
    """,
)
def scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + date + math scalar families in ONE projection over
    lineitem ⋈ orders ⋈ broadcast(part) — every function stays a codegen'd
    Column expression; the filter reaches the lineitem scan before either
    join (PushedFilters), so the joined row count is |filtered lineitem|."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 10 == 0)
    )
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_orderkey",
            F.lower("p_name").alias("name_lower"),
            F.upper("p_brand").alias("brand_upper"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.regexp_extract("p_name", r"([0-9]+)", 1).alias("first_number"),
            F.levenshtein("p_brand", "p_type").alias("brand_type_dist"),
            F.length("p_name").alias("name_len"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.quarter("o_orderdate").cast("int").alias("order_quarter"),
            F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
            F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
            F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
            F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
            F.floor("l_quantity").cast("bigint").alias("qty_floor"),
            (F.abs(F.col("l_tax") - F.col("l_discount")) > 0.05).alias("tax_gap"),
        )
    )


@query(
    "events_props_functions",
    oracle="""
    WITH per_event AS (
        SELECT event_id,
               event_type,
               array_to_string(json_keys(props), ',')            AS prop_keys,
               CAST(len(json_keys(props)) AS INT)                AS n_props,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        FROM events
    )
    SELECT event_type,
           COUNT(*)                 AS n_events,
           ROUND(AVG(k_value), 4)   AS avg_k,
           MAX(k_value)             AS max_k,
           MAX(n_props)             AS max_props,
           MIN(prop_keys)           AS min_prop_keys
    FROM per_event
    GROUP BY event_type
    """,
)
def events_props_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map + JSON function families in ONE query over events.props
    (SURVEY.md §1.3): from_json → MapType, map_keys/size/getItem per event,
    then aggregated per type — the row-level map surface AND the
    extract-then-aggregate JSON shape the two former showcases covered."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    per_event = e.select(
        "event_type",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.size(F.map_keys(m)).cast("int").alias("n_props"),
        m.getItem("k").cast("bigint").alias("k_value"),
    )
    return per_event.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("k_value"), 4).alias("avg_k"),
        F.max("k_value").alias("max_k"),
        F.max("n_props").alias("max_props"),
        F.min("prop_keys").alias("min_prop_keys"),
    )


@query(
    "array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding)                                   AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6)           AS first_val,
           ROUND(CAST(list_aggregate(embedding, 'sum') AS DOUBLE), 4) AS vec_sum,
           ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS vec_max
    FROM embeddings
    WHERE vec_id % 7 = 0
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops stay JVM-side: size/element_at/aggregate are codegen'd —
    no Python in the loop (SURVEY.md §7 hard-part 4)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") % 7 == 0).select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("vec_sum"),
        F.round(
            F.array_max(F.transform("embedding", lambda x: x.cast("double"))), 6
        ).alias("vec_max"),
    )


@query(
    "customer_order_left_join",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey)                        AS n_orders,
           ROUND(COALESCE(MIN(o.o_totalprice), 0), 2) AS min_price,
           ROUND(COALESCE(MAX(o.o_totalprice), 0), 2) AS max_price
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def customer_order_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count 0, zero bounds)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.min("o_totalprice"), F.lit(0)), 2).alias("min_price"),
            F.round(F.coalesce(F.max("o_totalprice"), F.lit(0)), 2).alias("max_price"),
        )
    )


@query(
    "applyinpandas_zscore",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           ROUND((o_totalprice - AVG(o_totalprice) OVER w)
                 / STDDEV(o_totalprice) OVER w, 4) AS price_zscore
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority)
    """,
)
def applyinpandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (full-group pandas transform): per-priority
    z-score normalization — the Arrow-batched whole-group UDF shape used for
    per-group model scoring/normalization in training pipelines."""
    import pandas as pd

    def zscore(pdf: "pd.DataFrame") -> "pd.DataFrame":
        mean = pdf["o_totalprice"].mean()
        std = pdf["o_totalprice"].std(ddof=1)  # sample stddev == SQL STDDEV
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderpriority": pdf["o_orderpriority"],
                "price_zscore": ((pdf["o_totalprice"] - mean) / std).round(4),
            }
        )

    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_orderpriority", "o_totalprice").groupBy(
        "o_orderpriority"
    ).applyInPandas(zscore, "o_orderkey bigint, o_orderpriority string, price_zscore double")


@query(
    "pandas_udaf_geomean",
    oracle="""
    SELECT o_orderpriority,
           ROUND(EXP(AVG(LN(o_totalprice))), 2) AS geomean_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped pandas UDAF (Arrow-batched aggregate UDF): geometric mean.

    Computed as exp(mean(log(x))) in numpy inside the UDAF — the oracle is the
    same formula in SQL; both accumulate in double."""
    from fs2_kinesis_firehose_spark.functions.udafs import geomean

    o = load_table(spark, sf_dir, "orders")
    # grouped-agg pandas UDFs cannot mix with built-in aggregates in one agg
    return o.groupBy("o_orderpriority").agg(
        F.round(geomean("o_totalprice"), 2).alias("geomean_price")
    )


@query(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "asof_join_latest_order",
    oracle="""
    WITH uniq_orders AS (
        SELECT o_custkey,
               o_orderdate,
               MAX_BY(o_totalprice, o_orderkey) AS o_totalprice,
               MAX(o_orderkey) AS o_orderkey
        FROM orders
        GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id,
           e.user_id,
           o.o_orderkey        AS orderkey_asof,
           ROUND(o.o_totalprice, 2) AS totalprice_asof
    FROM events e
    ASOF LEFT JOIN uniq_orders o
      ON e.user_id % 1500 = o.o_custkey AND e.ts >= o.o_orderdate
    WHERE e.event_id % 10 = 0
    """,
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each event picks up the customer's most
    recent order at or before the event time — the time-series join Spark has
    no built-in for, realized as union + carry-forward window (one shuffle,
    no range cross-join).  The right side is deduped to one row per
    (key, time) so the as-of pick is engine-deterministic."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 10 == 0)
        .select("event_id", "user_id", (F.col("user_id") % 1500).alias("custkey"), "ts")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"), "o_orderdate")
        .agg(
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
            F.max("o_orderkey").alias("o_orderkey"),
        )
    )
    joined = asof_join(
        e, o, key="custkey", left_time="ts", right_time="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey_asof").alias("orderkey_asof"),
        F.round("o_totalprice_asof", 2).alias("totalprice_asof"),
    )


# Spark runs the oracle's own text, the tables passed as frames
_GROUPING_SETS = (
    _SEGMENT_SPEND + "GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())"
)


@query("grouping_sets_order_stats", oracle=_GROUPING_SETS.format(**_TABLE_NAMES))
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL (rollup/cube cover the structured
    API; this exercises the SQL surface)."""
    return spark.sql(
        _GROUPING_SETS,
        orders=load_table(spark, sf_dir, "orders"),
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "salted_join_priority_revenue",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderpriority
    """,
)
def salted_join_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-to-dim join (operators/skew.py): results identical to
    the plain equi-join — the salt only changes the shuffle distribution."""
    from fs2_kinesis_firehose_spark.operators.skew import salted_join

    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    return (
        salted_join(l, o, "orderkey", salt_factor=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@query(
    "event_type_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'error')    AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    """,
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event counts, one column per event type.
    The value list is pinned so the output schema is static (Spark otherwise
    runs an extra distinct scan to discover columns — an anti-pattern at
    100 TB); missing combinations coalesce to 0 to match SQL's COUNT FILTER."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pivoted = ev.groupBy("user_id").pivot("event_type", types).count()
    return pivoted.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@query(
    "nation_balance_unpivot",
    oracle="""
    SELECT n_name, metric, ROUND(val, 2) AS val
    FROM (
        SELECT n.n_name,
               'acct_total'  AS metric,
               SUM(c.c_acctbal) AS val
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        UNION ALL
        SELECT n.n_name, 'acct_max', MAX(c.c_acctbal)
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        UNION ALL
        SELECT n.n_name, 'acct_min', MIN(c.c_acctbal)
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    """,
)
def nation_balance_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, the inverse of pivot): per-nation balance
    aggregates melted into (nation, metric, value) rows via ``DataFrame
    .unpivot`` — one aggregate pass, then a zero-shuffle Expand."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    wide = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("acct_total"),
            F.round(F.max("c_acctbal"), 2).alias("acct_max"),
            F.round(F.min("c_acctbal"), 2).alias("acct_min"),
        )
    )
    return wide.unpivot(
        ids=["n_name"],
        values=["acct_total", "acct_max", "acct_min"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "trailing_7d_customer_revenue",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE)
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_cents
    FROM orders
    """,
)
def trailing_7d_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-interval window frame: per order, the customer's trailing-7-day
    revenue (value-based frame over the order DATE — same-day orders are
    peers and always share a frame, unlike a ROWS frame).  Cents-domain sum
    so both engines aggregate exactly.  One shuffle on the window key; the
    frame is evaluated with a sliding aggregate, never a self-join."""
    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(days).rangeBetween(-6, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(cents).over(w).alias("trailing_cents"),
    )


@query(
    "bloom_semijoin_revenue",
    # The Bloom prefilter has no false negatives and the exact semi join
    # removes its false positives, so the output is EXACTLY the plain
    # semi-join aggregate — which is what the oracle states.  A broken
    # filter (false negatives) would drop rows and fail the hash.
    oracle="""
    SELECT l.l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l
    WHERE l.l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l.l_returnflag
    """,
)
def bloom_semijoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern (operators/bloom.py): build a Bloom bitmap
    over the urgent-order keys (JVM-side xxhash64 positions, per-partition
    bitmap OR, word-level bit_or fold — driver collects ≤ one bitmap's
    worth of rows at any task count), prefilter lineitem with one Arrow
    membership pass, then the exact semi join.  At 100 TB the bitmap ships
    in ~1 MB where the key set itself would be GBs — the same trick as
    engine-internal runtime row-group filtering, exposed as an operator."""
    from fs2_kinesis_firehose_spark.operators import bloom as B

    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    bm = B.bloom_build(urgent, "o_orderkey", n_bits=1 << 18, n_hashes=5)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    pre = B.bloom_prefilter(li, "l_orderkey", bm, n_bits=1 << 18, n_hashes=5)
    exact = pre.join(
        urgent.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", "left_semi"
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


@query(
    "order_rank_family_stats",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority,
               NTILE(4)       OVER w AS quartile,
               PERCENT_RANK() OVER w AS pr,
               CUME_DIST()    OVER w AS cd,
               DENSE_RANK()   OVER w AS dr,
               o_totalprice
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice ASC, o_orderkey ASC)
    )
    SELECT o_orderpriority, quartile,
           COUNT(*) AS n_orders,
           ROUND(SUM(pr), 6) AS sum_percent_rank,
           ROUND(SUM(cd), 6) AS sum_cume_dist,
           MAX(dr) AS max_dense_rank,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM r
    GROUP BY o_orderpriority, quartile
    ORDER BY o_orderpriority, quartile
    """,
)
def order_rank_family_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-function window family in one oracle-checked pass: NTILE
    quartiles, PERCENT_RANK, CUME_DIST, DENSE_RANK per order-priority
    partition (deterministic compound ordering), folded to per-quartile
    stats so the output is priority×4 rows.  One window shuffle + one
    aggregate; completes Tier B's window-function row alongside the
    rank/lag/lead and RANGE-frame queries."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    orders = load_table(spark, sf_dir, "orders")
    r = orders.select(
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.dense_rank().over(w).alias("dr"),
        "o_totalprice",
    )
    return (
        r.groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("pr"), 6).alias("sum_percent_rank"),
            F.round(F.sum("cd"), 6).alias("sum_cume_dist"),
            F.max("dr").alias("max_dense_rank"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


@query(
    "asof_tolerance_accounting",
    oracle="""
    WITH uniq_orders AS (
        SELECT o_custkey,
               o_orderdate,
               MAX_BY(o_totalprice, o_orderkey) AS o_totalprice
        FROM orders
        GROUP BY o_custkey, o_orderdate
    ),
    m AS (
        SELECT e.event_id, e.ts, o.o_orderdate, o.o_totalprice
        FROM events e
        ASOF LEFT JOIN uniq_orders o
          ON e.user_id % 1500 = o.o_custkey AND e.ts >= o.o_orderdate
        WHERE e.event_id % 10 = 0
    )
    SELECT COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN o_orderdate IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_matched_any,
           CAST(SUM(CASE WHEN o_orderdate IS NOT NULL
                    AND ts - o_orderdate <= INTERVAL 8300 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_fresh,
           ROUND(SUM(CASE WHEN o_orderdate IS NOT NULL
                          AND ts - o_orderdate <= INTERVAL 8300 DAY
                          THEN o_totalprice ELSE 0 END), 2) AS fresh_spend
    FROM m
    """,
)
def asof_tolerance_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join's ``tolerance`` contract (pandas merge_asof parity)
    under oracle check: same event→latest-order join as
    ``asof_join_latest_order`` but matches staler than 8300 days are
    NULLed (events sit decades after the order history, so a
    ~median-staleness bar splits the matches non-trivially at every SF)
    while the event row survives.  The oracle counts any-match vs
    fresh-match independently from DuckDB's native ASOF join, so a
    tolerance bug in either direction (dropping rows, keeping stale
    values) breaks the hash.  Zero extra shuffles vs the plain as-of —
    the matched right time rides the same carry-forward window."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 10 == 0)
        .select("event_id", (F.col("user_id") % 1500).alias("custkey"), "ts")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"), "o_orderdate")
        .agg(F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"))
    )
    any_match = asof_join(
        e, o, key="custkey", left_time="ts", right_time="o_orderdate",
        value_cols=["o_totalprice"],
    )
    fresh = asof_join(
        e, o, key="custkey", left_time="ts", right_time="o_orderdate",
        value_cols=["o_totalprice"],
        tolerance=F.expr("INTERVAL 8300 DAYS"),
    )
    a = any_match.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("o_totalprice_asof").alias("n_matched_any"),
    )
    f = fresh.agg(
        F.count("o_totalprice_asof").alias("n_matched_fresh"),
        F.round(
            F.coalesce(F.sum("o_totalprice_asof"), F.lit(0.0)), 2
        ).alias("fresh_spend"),
    )
    return a.crossJoin(F.broadcast(f))
