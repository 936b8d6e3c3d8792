"""Deeper TPC-H-shaped query suite: multi-join pipelines with HAVING-style
post-aggregation filters, conditional market-share ratios, NOT-IN
anti-joins under a grouped COUNT DISTINCT, and frame-based window
functions (moving average, ntile).

The reference implements none of these (SURVEY §2.3 — no joins at all);
they exist so the engine demonstrably covers the standard analytical
operator classes a user migrating off any warehouse expects, each with a
DuckDB oracle.

Scale notes are per-function; the shared theme: dimension sides broadcast,
fact-fact joins pre-aggregate before shuffling, and HAVING filters run on
the aggregated (small) side so the big shuffle happens once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table
from automotive_big_data_analysis_spark.functions import exact as ex
from automotive_big_data_analysis_spark.functions import ranking as rk

LARGE_ORDER_QTY = 150  # Q18-style HAVING threshold
SHARE_NATION = "NATION_7"  # Q8-style market-share subject nation


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top unshipped-revenue orders for one market segment.

    customer (filtered, small) broadcasts into orders; the orders→lineitem
    join is the only shuffle; top-10 is TakeOrdered, never a global sort."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    # customer and the filtered orders both scale with SF — no hints;
    # AQE broadcasts them while they fit and falls back to SMJ beyond
    building_orders = orders.join(
        cust.select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    return (
        li.join(building_orders, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            ex.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of supplier revenue per order
    year. The conditional-sum-over-sum ratio runs inside one aggregation —
    no second pass, no self-join. All dimensions broadcast.

    Exact + fast at scale: revenue terms are scaled-integer BIGINTs
    (``exact.money4``) accumulated in TWO levels — long partial sums per
    (year, input partition) collapse map-side (bounded by rows-per-task
    × max row value ≈ 1e15 ≪ 2⁶³, so they cannot overflow), then the
    DECIMAL exact sum merges the |years| × |partitions| tiny
    intermediate. This keeps the per-row hot loop primitive (a
    DECIMAL(25,10)-over-raw-facts formulation measured ~2× slower)
    while the final total is exact integer arithmetic at
    ANY scale — the same result as a direct decimal sum, order-free."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supp_nation = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    # corpus nations are NATION_0..NATION_24
    target = SHARE_NATION
    c4 = ex.money4("l_extendedprice", "l_discount")
    partials = (
        li.join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
        .join(
            orders.select(
                "o_orderkey", F.year("o_orderdate").alias("order_year")
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            "order_year",
            c4.alias("c4"),
            F.col("supp_nation"),
            F.spark_partition_id().alias("_pid"),
        )
        .groupBy("order_year", "_pid")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == target, F.col("c4")).otherwise(
                    F.lit(0)
                )
            ).alias("num_l"),
            F.sum("c4").alias("den_l"),
        )
    )
    return (
        partials.groupBy("order_year")
        .agg(
            F.round(
                F.sum(ex.dec("num_l")).cast("double")
                / F.sum(ex.dec("den_l")).cast("double"),
                6,
            ).alias("mkt_share"),
            F.round(
                F.sum(ex.dec("den_l")).cast("double") / 10000, 2
            ).alias("total_volume"),
        )
        .orderBy("order_year")
    )


def parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type-prefix,
    size) excluding one brand and suppliers with negative balance (NOT IN
    → broadcast anti-join). COUNT DISTINCT shuffles once on the grouping
    key; the exclusion list is tiny and broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    bad_suppliers = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    # no broadcast hint on `part` minus one brand — that side is ~99% of
    # the part table and grows with SF; AQE's size-based choice picks the
    # right strategy at any scale
    return (
        li.join(
            part.where(F.col("p_brand") != "Brand#1"),
            li.l_partkey == part.p_partkey,
        )
        .join(
            bad_suppliers,
            li.l_suppkey == bad_suppliers.s_suppkey,
            "left_anti",
        )
        .select(
            "p_brand",
            F.substring("p_type", 1, 5).alias("type_prefix"),
            "p_size",
            "l_suppkey",
        )
        .groupBy("p_brand", "type_prefix", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "type_prefix", "p_size")
        .limit(20)
    )


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with any order whose total quantity
    exceeds a threshold (grouped HAVING → semi-join back to the facts).

    lineitem pre-aggregates to per-order quantity FIRST (map-side partial
    agg), the HAVING filter shrinks that to a handful of keys, and only
    those broadcast back — the big table never joins the big table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > LARGE_ORDER_QTY)
    )
    return (
        orders.join(F.broadcast(big_orders), orders.o_orderkey == big_orders.l_orderkey)
        # customer is a full fact-scale table — no hint; AQE decides
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("order_date"),
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


MOVING_AVG_DAYS = 6  # window frame: current day + 6 preceding


def daily_revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based window: daily order revenue with a 7-day trailing
    moving average and day-over-day delta (lag).

    Aggregate-then-window: the windowed relation is |distinct days| rows,
    thousands at most, so the single-partition window over it is safe at
    any fact-table scale — never window the raw facts."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(ex.dsum("o_totalprice").alias("revenue"))
    w = Window.orderBy("day").rowsBetween(-MOVING_AVG_DAYS, 0)
    w_lag = Window.orderBy("day")
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "revenue",
        # frame AVG via exact SUM / COUNT: engines associate frame
        # summation differently (incremental vs segment tree)
        F.round(
            F.sum(ex.dec("revenue")).over(w).cast("double")
            / F.count("revenue").over(w),
            2,
        ).alias("ma7"),
        F.round(
            F.col("revenue") - F.lag("revenue", 1).over(w_lag), 2
        ).alias("dod_delta"),
    ).orderBy("day")


def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) over order value: per-decile count, min/max/avg price.

    A global ntile needs a total order; the naive window (kept as the
    oracle formulation) funnels every order through ONE task. This plan
    uses the two-pass range-bucket rank (``functions/ranking.py``):
    sampled value boundaries bucket the scan, per-bucket ranks run
    partition-parallel, and literal bucket offsets make them global —
    the orders table is never globally sorted on a single partition.
    ``stage_input=False``: the input is the fact table behind a cheap
    pruned 2-column scan, so re-reading the pushed-down scan per pass
    (boundary sample / bucket counts / rank) beats writing the fact
    relation to executor storage; the approximate one-scan form is
    ``approx_part_stats``-style t-digest quantile bucketing."""
    orders = load_table(spark, sf_dir, "orders")
    deciled = rk.with_global_ntile(
        orders.select("o_totalprice", "o_orderkey"),
        10,
        F.col("o_totalprice"),
        F.col("o_orderkey"),
        "decile",
        stage_input=False,
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            ex.davg("o_totalprice", 2).alias("avg_price"),
        )
        .orderBy("decile")
    )


ORACLE: dict[str, str] = {
    "shipping_priority": f"""
        SELECT l_orderkey AS o_orderkey, o_orderdate, o_orderpriority,
               {ex.dsum_sql("l_extendedprice * (1 - l_discount)")}
                   AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "nation_market_share": f"""
        WITH sn AS (
            SELECT s_suppkey, n_name AS supp_nation
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        )
        -- flat exact sums: Spark's two-level (long partial, decimal
        -- final) accumulation equals this exactly — integer arithmetic
        SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
               ROUND(
                   CAST(SUM(CAST(CASE WHEN supp_nation = '{SHARE_NATION}'
                            THEN {ex.money4_sql("l_extendedprice", "l_discount")}
                            ELSE 0 END AS {ex.SQL_DEC})) AS DOUBLE)
                   / CAST(SUM(CAST({ex.money4_sql("l_extendedprice", "l_discount")}
                            AS {ex.SQL_DEC})) AS DOUBLE), 6)
                   AS mkt_share,
               ROUND(CAST(SUM(CAST({ex.money4_sql("l_extendedprice", "l_discount")}
                            AS {ex.SQL_DEC})) AS DOUBLE)
                     / 10000, 2) AS total_volume
        FROM lineitem
        JOIN sn ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1
    """,
    "parts_supplier_counts": """
        SELECT p_brand, SUBSTRING(p_type, 1, 5) AS type_prefix, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand != 'Brand#1'
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, type_prefix, p_size
        ORDER BY supplier_cnt DESC, p_brand, type_prefix, p_size
        LIMIT 20
    """,
    "large_volume_customers": f"""
        WITH big AS (
            SELECT l_orderkey, SUM(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_quantity) > {LARGE_ORDER_QTY}
        )
        SELECT c_name, c_custkey, o_orderkey,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
               o_totalprice, ROUND(CAST(total_qty AS DOUBLE), 2) AS total_qty
        FROM orders
        JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    "daily_revenue_moving_avg": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   {ex.dsum_sql("o_totalprice")} AS revenue
            FROM orders GROUP BY 1
        )
        SELECT CAST(day AS VARCHAR) AS day, revenue,
               ROUND(CAST(SUM(CAST(revenue AS {ex.SQL_DEC})) OVER (
                   ORDER BY day
                   ROWS BETWEEN {MOVING_AVG_DAYS} PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / COUNT(revenue) OVER (
                   ORDER BY day
                   ROWS BETWEEN {MOVING_AVG_DAYS} PRECEDING AND CURRENT ROW
               ), 2) AS ma7,
               ROUND(revenue - LAG(revenue, 1) OVER (ORDER BY day), 2)
                   AS dod_delta
        FROM daily ORDER BY day
    """,
    "order_value_deciles": f"""
        WITH d AS (
            SELECT o_totalprice,
                   NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
            FROM orders
        )
        SELECT decile, COUNT(*) AS n_orders,
               ROUND(MIN(o_totalprice), 2) AS min_price,
               ROUND(MAX(o_totalprice), 2) AS max_price,
               {ex.davg_sql("o_totalprice", 2)} AS avg_price
        FROM d GROUP BY decile ORDER BY decile
    """,
}

QUERIES = {
    "shipping_priority": shipping_priority,
    "nation_market_share": nation_market_share,
    "parts_supplier_counts": parts_supplier_counts,
    "large_volume_customers": large_volume_customers,
    "daily_revenue_moving_avg": daily_revenue_moving_avg,
    "order_value_deciles": order_value_deciles,
}
