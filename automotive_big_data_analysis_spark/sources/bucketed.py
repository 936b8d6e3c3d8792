"""Bucketed-table layout: shuffle-free fact-fact joins.

At 100 TB the single most expensive operation is the orders⋈lineitem
shuffle — both sides hash-exchange on the order key for every query that
joins them. Bucketing pays that shuffle ONCE at write time: both tables
are written with ``bucketBy(N, orderkey).sortBy(orderkey)``, and every
subsequent sort-merge join reads bucket i of one table against bucket i
of the other with NO Exchange and (with matching sortBy) no re-sort.
This is Spark's answer to the co-located join; the reference has no
analogous capability (its one table lives unpartitioned in a TEXTFILE,
reference ``backend/utils.py:40-48``).

Bucket metadata lives in the session catalog, so writes go through
``saveAsTable`` into an explicitly-located database, never into a bare
path. Bucket count is a layout constant — at real scale pick
``total_size / target_partition_size`` (e.g. 100 TB / 512 MB ≈ 200k
buckets is too many files; bucket on the cluster's parallelism instead
and let each bucket hold many row groups).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table
from automotive_big_data_analysis_spark.functions import exact as ex
from automotive_big_data_analysis_spark.sources import stored

N_BUCKETS = 8
DEFAULT_DB = "bucketed"
DEFAULT_LOCATION = "/tmp/abda_bucketed_warehouse"


def write_bucketed_tables(
    spark: SparkSession,
    sf_dir: str,
    database: str = DEFAULT_DB,
    location: str = DEFAULT_LOCATION,
) -> None:
    """Write orders and lineitem bucketed+sorted by order key.

    Idempotent per corpus snapshot: the one-time shuffle is the point, so
    an existing layout is reused — mirroring a production table that is
    bucketed once at ingest, not per query. The layout path carries the
    bucket count and both tables' source fingerprints, so a regenerated
    corpus lays out fresh files (superseded layouts are pruned) instead
    of serving the old rows (``stored.ensure_bucketed_table``)."""
    from concurrent.futures import ThreadPoolExecutor

    stem = f"{stored.corpus_name(sf_dir)}_nb{N_BUCKETS}_"
    base = stem + "_".join(
        stored.source_fingerprint(sf_dir, t) for t in ("orders", "lineitem")
    )
    specs = [
        ("orders_b", "orders", "o_orderkey"),
        ("lineitem_b", "lineitem", "l_orderkey"),
    ]
    if not all(
        os.path.exists(f"{location}/{base}/{t}/_SUCCESS") for t, _, _ in specs
    ):
        stored.prune_superseded(location, stem, keep=base)

    def _ensure_one(table: str, source: str, key: str) -> None:
        stored.ensure_bucketed_table(
            spark,
            database,
            table,
            f"{location}/{base}/{table}",
            key,
            lambda: load_table(spark, sf_dir, source),
            N_BUCKETS,
        )

    # the two ingest shuffles are independent writes to disjoint paths;
    # overlap them so the smaller table's write hides inside the larger
    # one's tail (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [pool.submit(_ensure_one, *spec) for spec in specs]:
            fut.result()


def bucketed_join_revenue(
    spark: SparkSession, database: str = DEFAULT_DB
) -> DataFrame:
    """Revenue per order priority over the bucketed join.

    The ``merge`` hint pins sort-merge (a broadcast would hide the point
    at test scale); with both sides bucketed on the join key the plan has
    NO Exchange under the join — asserted in ``tests/test_plans.py``."""
    o = spark.table(f"{database}.orders_b")
    li = spark.table(f"{database}.lineitem_b")
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            ex.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


def ensure_layout(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the per-corpus bucketed layout exists (idempotent) and
    return its database name — the one-time ingest shuffle the bench
    harness times as ``index_build_s``."""
    db = f"{DEFAULT_DB}_{stored.corpus_name(sf_dir)}"
    write_bucketed_tables(spark, sf_dir, database=db)
    return db


def bucketed_revenue_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate wrapper: ensure the bucketed layout exists for this
    sf_dir, then run the co-located join. Results are layout-independent
    (same rows as joining the raw parquet), which is exactly what the
    DuckDB oracle checks."""
    return bucketed_join_revenue(spark, database=ensure_layout(spark, sf_dir))


ORACLE: dict[str, str] = {
    "bucketed_join_revenue": f"""
        SELECT o_orderpriority,
               {ex.dsum_sql("l_extendedprice * (1 - l_discount)")}
                   AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
}

QUERIES = {
    "bucketed_join_revenue": bucketed_revenue_query,
}
