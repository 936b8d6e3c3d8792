"""Second TPC-H-shaped suite, adapted to the corpus schema (no partsupp,
no l_shipmode/commitdate): regional 5-way star join (Q5), value-share
HAVING against a global scalar (Q11), customer order-count distribution
over an outer join (Q13), conditional promo-revenue ratio (Q14), argmax
against a scalar subquery (Q15), and disjunctive multi-branch predicates
(Q19).

The reference implements no joins at all (SURVEY §2.3); this suite exists
so a user migrating off a SQL warehouse finds every standard analytical
join/aggregate shape covered, each hash-checked against a DuckDB oracle.

Scale theme: dimensions broadcast; facts shuffle at most once, always
after pre-aggregation or filtering; global scalars travel as broadcast
one-row joins, never as driver-side collect()-then-literal round trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table, spread
from automotive_big_data_analysis_spark.functions import exact as ex

VOLUME_REGION = "ASIA"  # Q5-style region filter
VOLUME_YEAR = 1996
SHARE_THRESHOLD = 0.0005  # Q11-style fraction of global revenue
TOP_SUPPLIER_QUARTER_START = "1996-01-01"  # Q15-style 3-month window
TOP_SUPPLIER_QUARTER_END = "1996-04-01"


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the supplier and the
    ordering customer share that nation, within one region and year.

    customer/supplier/nation/region are dimension-sized → all broadcast;
    the only shuffle is orders⋈lineitem plus the final groupBy, and the
    c_nationkey = s_nationkey equality rides the join, never a filter
    after a wider join (no row ever materializes that would fail it)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == VOLUME_REGION)
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        F.year("o_orderdate") == VOLUME_YEAR
    )
    li = load_table(spark, sf_dir, "lineitem")
    local_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            cust.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            supp.select("s_suppkey", "s_nationkey"),
            (li.l_suppkey == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(local_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            ex.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def important_parts_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose lineitem revenue exceeds a fixed
    fraction of GLOBAL revenue.

    Exactness + speed: revenue accumulates as scaled-integer BIGINT
    (``exact.money4`` — the true decimal product, order-independent,
    primitive fast path; per-part sums are bounded so no overflow), and
    the global total is derived FROM the per-part aggregate by a
    DECIMAL widening sum — decimal addition is exact, so the two-level
    total equals the direct one while the facts are scanned ONCE and the
    wide-decimal path only ever sees |parts| rows, not |lineitem|.
    A DECIMAL(25,10)-over-raw-facts formulation is exact too but
    measured ~3× slower; this layout keeps the primitive per-row cost
    with the same exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    c4 = ex.money4("l_extendedprice", "l_discount")
    per_part = li.groupBy("l_partkey").agg(F.sum(c4).alias("c4"))
    total = per_part.agg(
        F.sum(ex.dec("c4")).cast("double").alias("t4")
    )
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("c4").cast("double") > F.col("t4") * SHARE_THRESHOLD)
        .select(
            "l_partkey",
            F.round(F.col("c4").cast("double") / 10000, 2).alias(
                "part_revenue"
            ),
            F.round(F.col("c4").cast("double") / F.col("t4"), 8).alias(
                "revenue_share"
            ),
        )
        .orderBy(F.col("part_revenue").desc(), "l_partkey")
        .limit(50)
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed 0, 1, 2, … orders.

    Left outer join keeps order-less customers (count = 0); the second
    aggregation is over |customers| rows keyed by a small-cardinality
    count, so the heavy shuffle happens once on c_custkey and the
    histogram step is nearly free. Skew note: key 0 concentrates all
    order-less customers — fine here because the second groupBy input is
    already one row per customer, not per order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_customer = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(cust.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_customer.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: per order-month, percentage of revenue from PROMO
    parts. Conditional sum over sum inside ONE aggregation (no self-join);
    part is dimension-sized and broadcasts into the fact scan.

    ``spread``: the ONE relational query where widening the
    single-split scan measurably WINS — the broadcast-probe + month
    extraction + conditional decimal partial agg fused above the scan is
    heavy enough to beat the round-robin exchange (probe-bracketed
    5-rep A/B r14: 1.38 s with vs 1.73 s without, agreeing with the
    r13 driver run; the other 30 round-13 spread sites measured slower
    and were reverted — min_cost_supplier's in round 14 after its
    in-suite regression reproduced, 1.30 s with vs 0.64 s without).
    No-ops at scale."""
    li = spread(load_table(spark, sf_dir, "lineitem"))
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            part.select("p_partkey", "p_type"),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    ex.dec(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                ).cast("double")
                / F.sum(ex.dec(vol)).cast("double"),
                6,
            ).alias("promo_pct"),
            ex.dsum(vol).alias("total_revenue"),
        )
        .orderBy("order_month")
    )


def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum revenue over one quarter.

    Per-supplier revenue aggregates once; the max is a one-row broadcast
    joined back on equality — the classic 'WHERE total = (SELECT MAX …)'
    decorrelated to two passes over the SMALL aggregate, one over facts.
    The max-filtered rows (bounded by the tie count — a handful at ANY
    scale) then broadcast into supplier, so the supplier table never
    shuffles; broadcasting supplier itself would be a fact-scale hint."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(TOP_SUPPLIER_QUARTER_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(TOP_SUPPLIER_QUARTER_END).cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        ex.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    top = revenue.join(
        F.broadcast(max_rev), revenue.total_revenue == F.col("max_revenue")
    ).select("l_suppkey", "total_revenue")
    return (
        supp.join(F.broadcast(top), supp.s_suppkey == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under OR-ed multi-column branch predicates
    (brand × size-range × quantity-range). The whole disjunction is one
    join condition on a broadcast dimension — Catalyst evaluates it inside
    the join, and the partkey equality still drives the hash lookup, so
    this stays a broadcast hash join, not a cartesian."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    branch1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    branch3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 50)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(
            part.select("p_partkey", "p_brand", "p_size"),
            (li.l_partkey == F.col("p_partkey")) & (branch1 | branch2 | branch3),
        )
        .groupBy("p_brand")
        .agg(
            ex.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


ORACLE: dict[str, str] = {
    "local_supplier_volume": f"""
        SELECT n_name,
               {ex.dsum_sql("l_extendedprice * (1 - l_discount)")}
                   AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{VOLUME_REGION}'
          AND YEAR(o_orderdate) = {VOLUME_YEAR}
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "important_parts_share": f"""
        WITH per_part AS (
            SELECT l_partkey,
                   SUM({ex.money4_sql("l_extendedprice", "l_discount")})
                       AS c4
            FROM lineitem GROUP BY l_partkey
        ), total AS (
            SELECT CAST(SUM(CAST(c4 AS {ex.SQL_DEC})) AS DOUBLE) AS t4
            FROM per_part
        )
        SELECT l_partkey,
               ROUND(CAST(c4 AS DOUBLE) / 10000, 2) AS part_revenue,
               ROUND(CAST(c4 AS DOUBLE) / t4, 8) AS revenue_share
        FROM per_part, total
        WHERE CAST(c4 AS DOUBLE) > t4 * {SHARE_THRESHOLD}
        ORDER BY part_revenue DESC, l_partkey
        LIMIT 50
    """,
    "customer_order_distribution": """
        WITH per_customer AS (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM per_customer
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "promo_revenue_ratio": f"""
        SELECT STRFTIME(o_orderdate, '%Y-%m') AS order_month,
               ROUND(100.0
                   * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END AS {ex.SQL_DEC})) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS {ex.SQL_DEC})) AS DOUBLE), 6) AS promo_pct,
               {ex.dsum_sql("l_extendedprice * (1 - l_discount)")}
                   AS total_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY order_month
        ORDER BY order_month
    """,
    "top_revenue_suppliers": f"""
        WITH revenue AS (
            SELECT l_suppkey,
                   {ex.dsum_sql("l_extendedprice * (1 - l_discount)")}
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{TOP_SUPPLIER_QUARTER_START} 00:00:00'
              AND l_shipdate < TIMESTAMP '{TOP_SUPPLIER_QUARTER_END} 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    "disjunctive_part_revenue": f"""
        SELECT p_brand,
               {ex.dsum_sql("l_extendedprice * (1 - l_discount)")}
                   AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
               AND l_quantity BETWEEN 20 AND 30)
        GROUP BY p_brand
        ORDER BY p_brand
    """,
}

QUERIES = {
    "local_supplier_volume": local_supplier_volume,
    "important_parts_share": important_parts_share,
    "customer_order_distribution": customer_order_distribution,
    "promo_revenue_ratio": promo_revenue_ratio,
    "top_revenue_suppliers": top_revenue_suppliers,
    "disjunctive_part_revenue": disjunctive_part_revenue,
}
