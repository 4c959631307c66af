"""TPC-H-style relational queries: scans, joins, aggregates, set ops, the scalar-function suites, skew strategies, and part analytics.

Registered into the shared REGISTRY; ordering and the driver window
live in pydala2_spark/queries/__init__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pydala2_spark.frames import materialize
from pydala2_spark.queries._base import (
    _DEC,
    _davg,
    _dsum,
    _oavg,
    _osum,
    _t,
    query,
)
from pydala2_spark.sources.testdata import read_table

# =====================================================================
# Scans / filters (S1-S8, P1-P4) — pushdown exercised explicitly
# =====================================================================


@query(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'R'
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Catalyst pushes both predicates and the 4-column projection into
    # the parquet scan (PushedFilters + ReadSchema) — the Spark-native
    # replacement for the reference's stats-sidecar file pruning.
    return (
        _t(spark, sf_dir, "lineitem")
        .filter("l_quantity > 45 AND l_returnflag = 'R'")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )



@query(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark plans this as TakeOrderedAndProject: per-partition top-25
    # then a single merge — no global sort shuffle even at 100 TB.
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
    )



@query(
    "distinct_keyed",
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def distinct_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct over low-cardinality keys: map-side partial aggregate
    # collapses before the shuffle.
    return _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()



# =====================================================================
# Aggregation (A1-A4 + TPC-H-style)
# =====================================================================


@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_osum("l_quantity")}                                        AS sum_qty,
           {_osum("l_extendedprice")}                                   AS sum_base_price,
           {_osum("l_extendedprice * (1 - l_discount)")}                AS sum_disc_price,
           {_osum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}  AS sum_charge,
           {_oavg("l_quantity")}                                        AS avg_qty,
           {_oavg("l_extendedprice")}                                   AS avg_price,
           {_oavg("l_discount")}                                        AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partial (map-side) aggregation runs per scan task; only 4 groups
    # cross the shuffle. The canonical whole-stage-codegen agg.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            _davg("l_quantity").alias("avg_qty"),
            _davg("l_extendedprice").alias("avg_price"),
            _davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )



@query(
    "q6_forecast_revenue",
    f"""
    SELECT {_osum("l_extendedprice * l_discount")} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All four predicates push into the parquet scan; at 100 TB with
    # date-partitioned layout the year predicate prunes partitions.
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )



# =====================================================================
# Joins (J1-J3)
# =====================================================================


@query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {_osum("l_extendedprice * (1 - l_discount)")} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # customer is tiny → broadcast; orders⋈lineitem is the one real
    # shuffle, on the join key both sides already share.
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )



@query(
    "q5_nation_revenue",
    f"""
    SELECT n_name,
           {_osum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Star-join: every dim (region/nation/supplier/customer) broadcasts;
    # the fact tables join on their shared key. One shuffle total.
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey) & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )



@query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {_osum("l_extendedprice * (1 - l_discount)")} AS revenue,
           round(any_value(c_acctbal), 2) AS acctbal,
           any_value(n_name) AS nation
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.round(F.any_value("c_acctbal"), 2).alias("acctbal"),
            F.any_value("n_name").alias("nation"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )



@query(
    "join_semi_anti",
    """
    SELECT
      (SELECT count(*) FROM part p WHERE EXISTS
         (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)) AS parts_with_big_lines,
      (SELECT count(*) FROM part p WHERE NOT EXISTS
         (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)) AS parts_without_big_lines
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # semi/anti existence counts — the primitives the merge operator and
    # the reference's delta-write (`pydala/io.py:363-379`) are built
    # from. Both counts come from ONE pass: distinct matched keys,
    # left join, conditional agg — no second scan, no driver hop.
    part = _t(spark, sf_dir, "part")
    big_keys = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select("l_partkey")
        .distinct()
    )
    joined = part.join(F.broadcast(big_keys), part.p_partkey == big_keys.l_partkey, "left")
    return joined.agg(
        F.sum(F.when(F.col("l_partkey").isNotNull(), 1).otherwise(0)).alias("parts_with_big_lines"),
        F.sum(F.when(F.col("l_partkey").isNull(), 1).otherwise(0)).alias("parts_without_big_lines"),
    )



@query(
    "set_ops_union_except",
    """
    SELECT count(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ) t
    """,
)
def set_ops_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    f = orders.filter("o_orderstatus = 'F'").select("o_custkey")
    o = orders.filter("o_orderstatus = 'O'").select("o_custkey")
    return f.intersect(o).agg(F.count(F.lit(1)).alias("n"))



@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXISTS → left-semi join; the lineitem side is pre-filtered and
    # projected to (orderkey, shipdate) before the shuffle.
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )



@query(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year, {_osum("volume")} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             strftime(l_shipdate, '%Y') AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all dims broadcast; the only shuffle is lineitem⋈orders on the
    # shared key. The two-nation OR filter applies post-broadcast-join.
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), cust.c_nationkey == n2.c_nk)
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy("supp_nation", "cust_nation", F.date_format("l_shipdate", "yyyy").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )



@query(
    "q8_market_share",
    f"""
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_5'
                              THEN CAST(volume AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CAST(volume AS DECIMAL(38,6))) AS DOUBLE), 4) AS mkt_share
    FROM (
      SELECT strftime(o_orderdate, '%Y') AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    n2 = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(_t(spark, sf_dir, "orders"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == n2.n_nationkey)
        .join(F.broadcast(region), n2.n_regionkey == region.r_regionkey)
        .groupBy(F.date_format("o_orderdate", "yyyy").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_5", vol.cast(_DEC)).otherwise(
                        F.lit(0).cast(_DEC)
                    )
                ).cast("double")
                / F.sum(vol.cast(_DEC)).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )



@query(
    "q9_product_profit",
    f"""
    SELECT nation, o_year, {_osum("amount")} AS sum_profit
    FROM (
      SELECT n_name AS nation,
             strftime(o_orderdate, '%Y') AS o_year,
             l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity AS amount
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON o_orderkey = l_orderkey
                JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%e%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q9 shape with retailprice standing in for ps_supplycost
    # (no partsupp table in this corpus).
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%e%"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.5 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy").alias("o_year"),
        )
        .agg(_dsum(amount).alias("sum_profit"))
    )



@query(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-level aggregation; the second groupBy is over tiny data.
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )



@query(
    "q14_promo_revenue",
    f"""
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                                  ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE),
                 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev.cast(_DEC)).otherwise(
                        F.lit(0).cast(_DEC)
                    )
                ).cast("double")
                / F.sum(rev.cast(_DEC)).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )



@query(
    "q17_small_quantity_revenue",
    f"""
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # correlated scalar subquery → pre-aggregated per-part averages
    # joined back (the decorrelation Catalyst would do, made explicit
    # so the avg side is computed once and broadcast). The avg side
    # semi-joins to the brand's partkeys BEFORE aggregating: only
    # averages that survive the final join matter, so the agg covers
    # ~1/25 of lineitem instead of every part (the per-part average is
    # unchanged for the parts that remain).
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((0.5 * F.avg("l_quantity")).alias("half_avg_qty"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / 7.0, 2
            ).alias("avg_yearly")
        )
    )



@query(
    "q18_large_volume_customers",
    """
    SELECT c_custkey, o_orderkey, round(sum(l_quantity), 2) AS total_qty,
           round(any_value(o_totalprice), 2) AS totalprice
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c_custkey, o_orderkey
    ORDER BY total_qty DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the HAVING aggregate IS the output aggregate: join the per-order
    # quantity sums straight to orders/customer instead of semi-joining
    # back into lineitem and re-summing — one lineitem scan, one fewer
    # corpus-side shuffle, bit-identical rows (o_orderkey is unique, so
    # the old groupBy(c_custkey, o_orderkey) collapsed to one row per
    # order anyway)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big_orders = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")).filter(F.col("q") > 300)
    )
    return (
        orders.join(big_orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("q", 2).alias("total_qty"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )



@query(
    "q19_disjunctive_predicates",
    f"""
    SELECT {_osum("l_extendedprice * (1 - l_discount)")} AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 15 AND 35)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 25 AND 50)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OR-of-ANDs: part-only conjuncts prune the broadcast side before
    # the join; the mixed disjunction evaluates post-join in codegen.
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    )
    c2 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(15, 35)
    )
    c3 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(25, 50)
    )
    return j.filter(c1 | c2 | c3).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )



@query(
    "q22_inactive_customers",
    f"""
    SELECT nation_grp, count(*) AS numcust, {_osum("c_acctbal")} AS totacctbal
    FROM (
      SELECT c_nationkey % 5 AS nation_grp, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / count(*)
                         FROM customer WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    ) custsale
    GROUP BY nation_grp
    """,
)
def q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scalar-subquery threshold computed once; anti-join finds
    # never-ordered customers.
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    threshold = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias("t")
        )
        .first()[0]
    )
    return (
        cust.filter(F.col("c_acctbal") > threshold)
        .join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            cust.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy((F.col("c_nationkey") % 5).alias("nation_grp"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
    )



@query(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
             min(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON l_suppkey = s_suppkey
      WHERE p_size < 5
    )
    SELECT DISTINCT p_partkey, p_name, s_suppkey AS supplier, round(s_acctbal, 2) AS acctbal
    FROM costs WHERE s_acctbal = min_bal
    ORDER BY p_partkey
    LIMIT 50
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q2 shape (min-within-group then join back) via a window min
    # — one shuffle on the group key, no self-join.
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") < 5)
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    costs = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
    )
    w = W.partitionBy("p_partkey")
    return (
        costs.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select(
            "p_partkey",
            "p_name",
            F.col("s_suppkey").alias("supplier"),
            F.round("s_acctbal", 2).alias("acctbal"),
        )
        .distinct()
        .orderBy("p_partkey")
        .limit(50)
    )



@query(
    "q15_top_suppliers",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(round(total_revenue, 2) AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scalar max over the aggregate attached as a ONE-ROW broadcast
    # (the q11 shape): a global window here would funnel every
    # supplier's revenue row through one task; the agg max is a
    # map-side-combined reduction and the revenue frame materializes
    # once for both branches.

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    # exact decimal revenue → the max/equality tie-out is exact, not a
    # last-ulp double comparison that could drop/duplicate the winner
    revenue = materialize(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
            ).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    top = revenue.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("mx")
    )
    supp = _t(spark, sf_dir, "supplier")
    return supp.join(F.broadcast(top), supp.s_suppkey == top.supplier_no).select(
        "s_suppkey",
        "s_name",
        F.round("total_revenue", 2).cast("double").alias("total_revenue"),
    )



@query(
    "q21_multi_exists",
    """
    SELECT s.s_suppkey, s.s_name, count(*) AS n_flagged
    FROM supplier s JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY n_flagged DESC, s.s_suppkey ASC
    LIMIT 20
    """,
)
def q21_multi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q21 shape: EXISTS + NOT EXISTS decorrelated into one
    # order-level pass — lineitem is scanned ONCE: groupBy
    # (order, supplier), then order-level totals as window sums over
    # that (much smaller) aggregate. Two shuffles total; the
    # join-back formulation would be three (the compound-key agg is
    # not co-partitioned with an orderkey join).
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_r"),
    )
    w = W.partitionBy("l_orderkey")
    flagged = (
        per_order.select(
            "l_orderkey",
            "l_suppkey",
            "n_r",
            F.sum("n_r").over(w).alias("tot_r"),
            F.count(F.lit(1)).over(w).alias("n_supps"),
        )
        .filter(
            (F.col("n_r") > 0)  # this supplier has an R line on the order
            & (F.col("n_supps") > 1)  # other suppliers exist on the order
            & (F.col("tot_r") == F.col("n_r"))  # ...but none of THEIR lines are R
        )
        .select("l_orderkey", "l_suppkey", F.col("n_r").alias("n_flagged_lines"))
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        flagged.join(F.broadcast(supp), flagged.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum("n_flagged_lines").alias("n_flagged"))
        .orderBy(F.col("n_flagged").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )



@query(
    "q16_supplier_count_by_part",
    """
    SELECT p_brand, p_size // 10 AS size_bucket,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
    GROUP BY p_brand, p_size // 10
    ORDER BY supplier_cnt DESC, p_brand ASC, size_bucket ASC
    LIMIT 30
    """,
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q16 shape with lineitem as the part↔supplier link (no
    # partsupp table in this corpus).
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_type") != "PROMO")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", F.floor(F.col("p_size") / 10).alias("size_bucket"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand").asc(), F.col("size_bucket").asc()
        )
        .limit(30)
    )



@query(
    "q20_volume_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 100
    )
    ORDER BY s_suppkey
    """,
)
def q20_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IN-subquery with HAVING → aggregate then left-semi join.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    volume = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 100)
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(
            F.broadcast(volume), supp.s_suppkey == volume.l_suppkey, "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )



@query(
    "set_ops_except",
    """
    SELECT count(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ) t
    """,
)
def set_ops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    f = orders.filter("o_orderstatus = 'F'").select("o_custkey")
    o = orders.filter("o_orderstatus = 'O'").select("o_custkey")
    # subtract = EXCEPT DISTINCT (exceptAll would keep multiplicity)
    return f.subtract(o).agg(F.count(F.lit(1)).alias("n"))



@query(
    "q12_priority_by_linestatus",
    f"""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q12 shape (reference runs it via DuckDB passthrough,
    # pydala/table.py:940-958): conditional counts after a fact-fact
    # join. Scale: the shipdate filter is pushed into the lineitem
    # scan, the join shuffles on orderkey, and the CASE-sum aggregate
    # is 2 groups — map-side partial aggregation collapses it before
    # the final exchange.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )



@query(
    "q11_supplier_value_share",
    f"""
    SELECT l_suppkey, {_osum("l_extendedprice * (1 - l_discount)")} AS value
    FROM lineitem
    GROUP BY l_suppkey
    HAVING CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) > (
      SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
             * 0.0015
      FROM lineitem
    )
    ORDER BY value DESC, l_suppkey ASC
    """,
)
def q11_supplier_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q11 shape (no partsupp in this corpus → supplier value
    # from lineitem): HAVING against a scalar subquery over the same
    # fact. Scale: one scan feeds both the per-supplier aggregate and
    # the global total (Spark recomputes; at 100 TB cache the
    # aggregated per-supplier frame — the total is then a cheap
    # second-stage reduce, not a second scan). The 1-row total is
    # broadcast into the filter.
    li = _t(spark, sf_dir, "lineitem")
    value = F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC))
    per_supp = li.groupBy("l_suppkey").agg(value.alias("raw_value"))
    # derive the global total from the per-supplier aggregate (avoids a
    # second full scan of the fact table); decimal sums are exact, so
    # the global total equals the single-pass total bit-for-bit
    total = per_supp.agg(
        (F.sum("raw_value").cast("double") * F.lit(0.0015)).alias("threshold")
    )
    return (
        per_supp.join(F.broadcast(total))
        .filter(F.col("raw_value").cast("double") > F.col("threshold"))
        .select("l_suppkey", F.round("raw_value", 2).cast("double").alias("value"))
        .orderBy(F.col("value").desc(), F.col("l_suppkey").asc())
    )



@query(
    "string_function_suite",
    """
    SELECT upper(substr(p_name, 1, 3)) AS prefix,
           regexp_extract(p_name, '([a-z]+)$', 1) AS noun,
           count(*) AS n,
           round(avg(len(p_name)), 4) AS avg_len,
           max(concat(p_brand, ':', p_type)) AS max_tag
    FROM part
    GROUP BY 1, 2
    ORDER BY n DESC, prefix ASC, noun ASC
    LIMIT 25
    """,
)
def string_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F10 scalar surface: regexp/substr/concat/length, grouped.
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy(
            F.upper(F.substring("p_name", 1, 3)).alias("prefix"),
            F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("noun"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.length("p_name")), 4).alias("avg_len"),
            F.max(F.concat_ws(":", "p_brand", "p_type")).alias("max_tag"),
        )
        .orderBy(F.col("n").desc(), F.col("prefix").asc(), F.col("noun").asc())
        .limit(25)
    )



@query(
    "array_function_suite",
    f"""
    SELECT label,
           count(*) AS n,
           {_oavg("list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)))")} AS avg_head_sum,
           {_oavg("list_max(list_transform(embedding, x -> CAST(x AS DOUBLE)))")} AS avg_max,
           round(avg(len(list_filter(embedding, x -> x > 0))), 4) AS avg_n_pos
    FROM embeddings
    GROUP BY label
    """,
)
def array_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # slice/transform/filter/aggregate over array columns — the
    # vector-column manipulation vocabulary, all JVM-side.
    e = _t(spark, sf_dir, "embeddings")
    head_sum = F.expr(
        "aggregate(transform(slice(embedding, 1, 8), x -> cast(x as double)), 0D, (a, x) -> a + x)"
    )
    vmax = F.expr("array_max(transform(embedding, x -> cast(x as double)))")
    n_pos = F.size(F.expr("filter(embedding, x -> x > 0)"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        _davg(head_sum).alias("avg_head_sum"),
        _davg(vmax).alias("avg_max"),
        F.round(F.avg(n_pos), 4).alias("avg_n_pos"),
    )



@query(
    "date_arithmetic_suite",
    f"""
    SELECT CAST(date_diff('day', o_orderdate, l_shipdate) // 30 AS BIGINT) AS months_to_ship,
           count(*) AS n,
           {_osum("l_extendedprice")} AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
    GROUP BY 1
    ORDER BY 1
    """,
)
def date_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(
            F.floor(
                F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) / 30
            ).alias("months_to_ship")
        )
        .agg(F.count(F.lit(1)).alias("n"), _dsum("l_extendedprice").alias("total"))
        .orderBy("months_to_ship")
    )



@query(
    "pivot_status_by_priority",
    f"""
    SELECT o_orderpriority,
           {_osum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS f_total,
           {_osum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")} AS o_total,
           {_osum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END")} AS p_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pivot with explicit values — no extra pass to discover columns.
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(_dsum("o_totalprice"))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0.0)).alias("f_total"),
            F.coalesce("O", F.lit(0.0)).alias("o_total"),
            F.coalesce("P", F.lit(0.0)).alias("p_total"),
        )
    )



_ER_FIELDS = {
    # (m, u): P(agree | same entity), P(agree | different) = 1/cardinality
    "p_brand": (0.95, 0.04),
    "p_type": (0.95, 1.0 / 6.0),
    "p_size": (0.95, 0.02),
}



def _linkage_oracle() -> str:
    import math

    agrees, terms = [], []
    for f, (m, u) in _ER_FIELDS.items():
        wa = round(math.log2(m / u), 6)
        wd = round(math.log2((1.0 - m) / (1.0 - u)), 6)
        agrees.append(f"(c.a_{f} = c.b_{f}) AS agree_{f}")
        terms.append(
            f"CASE WHEN c.a_{f} = c.b_{f} THEN CAST({wa!r} AS DOUBLE)"
            f" ELSE CAST({wd!r} AS DOUBLE) END"
        )
    score = " + ".join(terms)
    proj = ", ".join(
        f"a.{f} AS a_{f}, b.{f} AS b_{f}" for f in _ER_FIELDS
    )
    # multi-pass candidate blocking mirrored: pairs agreeing on
    # (blk, brand) UNION pairs agreeing on (blk, size); UNION's
    # row-distinct == pair-distinct because attributes are functions
    # of the ids
    passes = " UNION ".join(
        f"SELECT a.id AS id_a, b.id AS id_b, {proj} "
        f"FROM t a JOIN t b ON a.blk = b.blk AND a.{f} = b.{f} "
        f"AND a.id < b.id"
        for f in ("p_brand", "p_size")
    )
    return rf"""
    WITH t AS (
      SELECT p_partkey AS id, p_brand, p_type, p_size,
             regexp_extract(p_name, '(\S+)$', 1) AS blk
      FROM part
    ), c AS ({passes})
    SELECT c.id_a, c.id_b, {", ".join(agrees)},
           round({score}, 4) AS score,
           'match' AS verdict
    FROM c
    WHERE round({score}, 4) >= 6.0
    """



@query("er_part_linkage", _linkage_oracle())
def er_part_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fellegi-Sunter probabilistic record linkage inside head-noun
    # blocks: per-field log-likelihood weights enter as driver-computed
    # literals (no transcendentals in the data path), pairs classify
    # against the upper threshold, only confirmed matches return. See
    # operators/dedup.linkage_scores for the 100 TB notes.
    from pydala2_spark.operators.dedup import linkage_scores

    parts = _t(spark, sf_dir, "part")
    out = linkage_scores(
        parts,
        "p_partkey",
        _ER_FIELDS,
        block_expr=F.element_at(F.split(F.col("p_name"), r"\s+"), -1),
        upper=6.0,
        # lossless for the match class: upper=6.0 is unreachable
        # without agreeing on brand or size (type agreement alone is
        # +2.51 against two ~-4.3/-5.6 disagreements), so the two
        # candidate passes cover every match while skipping the
        # quadratic all-disagree bulk (25M -> ~1.5M pairs at sf0.1)
        candidate_fields=["p_brand", "p_size"],
    )
    return out.filter("verdict = 'match'")



@query(
    "part_skyline",
    """
    WITH s AS (
      SELECT p_partkey, p_name, p_retailprice, p_size,
             max(p_size) OVER (
               ORDER BY p_retailprice ASC, p_size DESC, p_partkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
      FROM part
    )
    SELECT p_partkey, p_name, round(p_retailprice, 2) AS price, p_size
    FROM s WHERE pb IS NULL OR p_size > pb
    """,
)
def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pareto frontier (skyline): parts where no other part is both
    # cheaper-or-equal AND larger-or-equal (one strict) — the 2-D
    # sort+running-max reduction, one window pass, no pairwise join.
    # See functions/verbs.skyline_2d for the 100 TB notes.
    from pydala2_spark.functions.verbs import skyline_2d

    return skyline_2d(
        _t(spark, sf_dir, "part"),
        minimize="p_retailprice",
        maximize="p_size",
        id_col="p_partkey",
    ).select(
        "p_partkey",
        "p_name",
        F.round("p_retailprice", 2).alias("price"),
        "p_size",
    )



@query(
    "fuzzy_part_matches",
    r"""
    WITH names AS (
      SELECT p_name, count(*) AS n, min(p_partkey) AS nid
      FROM part GROUP BY p_name
    ), t AS (
      SELECT nid, p_name, n,
             regexp_extract(p_name, '(\S+)$', 1) AS blk,
             length(p_name) AS l
      FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM t a JOIN t b ON a.blk = b.blk AND a.nid < b.nid
    WHERE abs(a.l - b.l) <= 2 AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def fuzzy_part_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Entity-grain fuzzy matching: collapse parts to their 64 distinct
    # names FIRST (the row-grain pair set is quadratic in duplicate
    # multiplicity — 53k pairs at sf0.01), then levenshtein<=2 inside
    # head-noun blocks with the length prefilter. See
    # operators/dedup.fuzzy_matches for the 100 TB notes.
    from pydala2_spark.operators.dedup import fuzzy_matches

    names = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n"), F.min("p_partkey").alias("nid"))
    )
    m = fuzzy_matches(names, "p_name", "nid", max_distance=2)
    return (
        m.join(names.select(F.col("nid").alias("id_a"), F.col("n").alias("n_a")),
               "id_a")
        .join(names.select(F.col("nid").alias("id_b"), F.col("n").alias("n_b")),
              "id_b")
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )



def _profile_branch(col: str, kind: str) -> str:
    if kind == "num":
        mn = f"round(CAST(min({col}) AS DOUBLE), 4)"
        mx = f"round(CAST(max({col}) AS DOUBLE), 4)"
        sn = sx = "CAST(NULL AS VARCHAR)"
    elif kind == "ts":
        # epoch_us/1e6 rounded to 6: the same micros-exact arithmetic
        # profile_dataframe runs (whole-second epochs collapsed
        # event-grade timestamps — ADVICE r7)
        mn = f"round(CAST(epoch_us(CAST(min({col}) AS TIMESTAMP)) AS DOUBLE) / 1000000, 6)"
        mx = f"round(CAST(epoch_us(CAST(max({col}) AS TIMESTAMP)) AS DOUBLE) / 1000000, 6)"
        sn = sx = "CAST(NULL AS VARCHAR)"
    else:
        mn = mx = "CAST(NULL AS DOUBLE)"
        sn, sx = f"min({col})", f"max({col})"
    return f"""
    SELECT '{col}' AS column_name,
           count(*) AS n_rows,
           count(*) - count({col}) AS n_null,
           count(DISTINCT {col}) AS n_distinct,
           {mn} AS min_num, {mx} AS max_num,
           {sn} AS min_str, {sx} AS max_str
    FROM orders"""



@query(
    "profile_orders",
    "\nUNION ALL".join(
        _profile_branch(c, k)
        for c, k in [
            ("o_orderkey", "num"),
            ("o_custkey", "num"),
            ("o_orderstatus", "str"),
            ("o_totalprice", "num"),
            ("o_orderdate", "ts"),
            ("o_orderpriority", "str"),
        ]
    ),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Table profile (nulls / exact distinct / typed min-max per
    # column) — two map-side-combining hash-agg passes (metrics + a
    # (column, value) distinct explode; Catalyst's multi-countDistinct
    # Expand measured 8x slower). The oracle's 6-scan UNION ALL is the
    # same answer the slow way. See
    # functions/schema_tools.profile_dataframe for the 100 TB notes.
    from pydala2_spark.functions.schema_tools import profile_dataframe

    return profile_dataframe(_t(spark, sf_dir, "orders"))



@query(
    "skew_safe_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_distinct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def skew_safe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit two-phase distinct: dedup (key, value) first so the
    # per-key shuffle carries unique values only — the skew-tolerant
    # form of COUNT(DISTINCT) for hot keys (functions/skew.py).
    from pydala2_spark.functions.skew import distinct_count_two_phase

    return distinct_count_two_phase(
        _t(spark, sf_dir, "lineitem"), keys=["l_returnflag"], value_col="l_partkey"
    )



@query(
    "skew_salted_join_agg",
    f"""
    WITH dim AS (
      SELECT DISTINCT l_returnflag, 'grp_' || l_returnflag AS grp FROM lineitem
    )
    SELECT grp, count(*) AS n, {_osum("l_extendedprice")} AS total
    FROM lineitem JOIN dim USING (l_returnflag)
    GROUP BY grp
    """,
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hot-key mitigation demo: l_returnflag has 3 values, so a plain
    # repartition join puts ~1/3 of the fact table in ONE task. The
    # salted join spreads each hot key over `salt` shards (left salted
    # by row hash, right replicated ×salt) — same answer, 8× the
    # parallelism on the skewed key. functions/skew.py.
    from pydala2_spark.functions.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("grp", F.concat(F.lit("grp_"), F.col("l_returnflag")))
    )
    # hint the dim side: at test scale the planner would otherwise
    # broadcast the (tiny-here) fact side, which inverts the shape
    # this operator exists to demonstrate
    return (
        salted_join(li, F.broadcast(dim), key="l_returnflag", salt=8)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("l_extendedprice").alias("total"))
    )



@query(
    "assoc_rules_parts",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    n AS (SELECT count(DISTINCT o) AS n FROM li),
    sx AS (SELECT p, count(*) AS s FROM li GROUP BY p),
    pairs AS (
      SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS support_pair
      FROM li x JOIN li y ON x.o = y.o AND x.p <> y.p
      GROUP BY 1, 2
    )
    SELECT a AS antecedent, b AS consequent, support_pair,
           CAST(sa.s AS BIGINT) AS support_a,
           CAST(sb.s AS BIGINT) AS support_b,
           round(CAST(support_pair AS DOUBLE) / CAST(sa.s AS DOUBLE), 6)
             AS confidence,
           round(CAST(support_pair AS DOUBLE) * CAST(n.n AS DOUBLE)
                 / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6)
             AS lift
    FROM pairs JOIN sx sa ON pairs.a = sa.p JOIN sx sb ON pairs.b = sb.p
    CROSS JOIN n
    WHERE support_pair >= 3
    ORDER BY lift DESC, antecedent, consequent LIMIT 100
    """,
)
def assoc_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (Agrawal &
    Srikant): for part pairs co-occurring in >= 3 orders, directed
    confidence P(b|a) and lift P(a,b)/(P(a)P(b)) — the co-purchase
    RULE view next to the graph views (triangles = cohesion, link
    prediction = structure; lift says which co-occurrences beat
    chance). Integer supports with two final divisions — oracle
    bit-exact; top 100 by lift with a full unique tiebreak.

    100 TB shape: baskets dedupe map-side to (order, part); the pair
    join is per-order (TPC-H baskets cap at 7 items, so blow-up is
    bounded per basket — for long baskets cap or sample items);
    item supports broadcast into the rule join."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )

    li = materialize(li)
    n = li.select("o").distinct().agg(F.count(F.lit(1)).alias("n"))
    sx = li.groupBy("p").agg(F.count(F.lit(1)).alias("s"))
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") != F.col("y.p"))
        .groupBy(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("support_pair"))
        .filter(F.col("support_pair") >= 3)
    )
    sa = sx.select(F.col("p").alias("a"), F.col("s").alias("support_a"))
    sb = sx.select(F.col("p").alias("b"), F.col("s").alias("support_b"))
    return (
        pairs.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            "support_pair",
            F.col("support_a").cast("long").alias("support_a"),
            F.col("support_b").cast("long").alias("support_b"),
            F.round(
                F.col("support_pair").cast("double")
                / F.col("support_a").cast("double"),
                6,
            ).alias("confidence"),
            F.round(
                F.col("support_pair").cast("double")
                * F.col("n").cast("double")
                / (
                    F.col("support_a").cast("double")
                    * F.col("support_b").cast("double")
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(100)
    )


@query(
    "assoc_rules_pruned",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    n AS (SELECT count(DISTINCT o) AS n FROM li),
    sx AS (SELECT p, count(*) AS s FROM li GROUP BY p),
    pairs AS (
      SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS support_pair
      FROM li x JOIN li y ON x.o = y.o AND x.p <> y.p
      GROUP BY 1, 2
    ), scored AS (
      SELECT a, b, support_pair,
             CAST(support_pair AS DOUBLE) / CAST(sa.s AS DOUBLE)
               AS conf_raw,
             CAST(support_pair AS DOUBLE) * CAST(n.n AS DOUBLE)
               / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)) AS lift_raw,
             CAST(support_pair AS DOUBLE) / CAST(n.n AS DOUBLE)
               - (CAST(sa.s AS DOUBLE) / CAST(n.n AS DOUBLE))
                 * (CAST(sb.s AS DOUBLE) / CAST(n.n AS DOUBLE))
               AS lev_raw,
             CAST(sb.s AS DOUBLE) / CAST(n.n AS DOUBLE) AS pb
      FROM pairs JOIN sx sa ON pairs.a = sa.p JOIN sx sb ON pairs.b = sb.p
      CROSS JOIN n
      WHERE support_pair >= 2
    )
    SELECT a AS antecedent, b AS consequent, support_pair,
           round(conf_raw, 6) AS confidence,
           round(lift_raw, 6) AS lift,
           round(lev_raw, 6) AS leverage,
           round(CASE WHEN conf_raw < 1.0
                      THEN (1.0 - pb) / (1.0 - conf_raw) END, 6)
             AS conviction
    FROM scored
    WHERE conf_raw >= 0.05 AND lift_raw > 1.0 AND lev_raw > 0.0
    ORDER BY leverage DESC, lift DESC, antecedent, consequent
    LIMIT 50
    """,
)
def assoc_rules_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRUNING pass over the assoc_rules_parts rule space: keep
    only rules that clear min-support (>= 2 baskets), min-confidence
    (>= 0.05; thresholds sized so the prune is non-trivial at bench
    scale — TPC-H baskets are near-independent, so confidence runs
    low), lift > 1 (beats independence) AND positive leverage
    (absolute co-occurrence excess — lift's ratio hides tiny-support
    rules; leverage kills them), and report CONVICTION
    ``(1 - P(b)) / (1 - conf)`` (directional implication strength;
    NULL for exact rules where conf = 1). This is the
    Agrawal-Srikant -> Brin et al. interestingness ladder applied as a
    filter, emitting the rule set a recommender would actually ship.

    All scores are double expressions over exact integer supports —
    oracle bit-exact; pruning happens on the UNROUNDED values in both
    engines (rounding only formats the survivors). Top 50 by
    (leverage, lift) with the full unique tiebreak.

    100 TB shape: identical join economics to assoc_rules_parts (the
    pair join is per-basket-bounded; supports broadcast); the pruning
    predicates evaluate scan-side on the pair aggregate, so the rule
    explosion never reaches the sort."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )

    li = materialize(li)
    n = li.select("o").distinct().agg(F.count(F.lit(1)).alias("n"))
    sx = li.groupBy("p").agg(F.count(F.lit(1)).alias("s"))
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "o")
        .filter(F.col("x.p") != F.col("y.p"))
        .groupBy(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("support_pair"))
        .filter(F.col("support_pair") >= 2)
    )
    sa = sx.select(F.col("p").alias("a"), F.col("s").alias("sa"))
    sb = sx.select(F.col("p").alias("b"), F.col("s").alias("sb"))
    nd = F.col("n").cast("double")
    conf = F.col("support_pair").cast("double") / F.col("sa").cast("double")
    lift = (
        F.col("support_pair").cast("double")
        * nd
        / (F.col("sa").cast("double") * F.col("sb").cast("double"))
    )
    lev = F.col("support_pair").cast("double") / nd - (
        F.col("sa").cast("double") / nd
    ) * (F.col("sb").cast("double") / nd)
    pb = F.col("sb").cast("double") / nd
    return (
        pairs.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(n))
        .filter((conf >= 0.05) & (lift > 1.0) & (lev > 0.0))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            "support_pair",
            F.round(conf, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
            F.round(lev, 6).alias("leverage"),
            F.round(
                F.when(conf < 1.0, (F.lit(1.0) - pb) / (F.lit(1.0) - conf)),
                6,
            ).alias("conviction"),
        )
        .orderBy(
            F.desc("leverage"), F.desc("lift"), "antecedent", "consequent"
        )
        .limit(50)
    )
