"""Managed-table write path (reference ops S5/S6: ``insert_into_hive_table``
/ ``create_hive_table``, ``backend/utils.py:15-125``).

The reference formats every value into one giant ``INSERT INTO … VALUES``
SQL string (with hand-rolled NULL/map/array literal rendering and no
escaping). Under Spark none of that exists: a typed DataFrame writes
directly — map columns are native, NULLs are native, and the write is
partition-parallel.

Table layout is chosen for the 100 TB case: parquet, partitioned by a
low-cardinality column when given (partition pruning for year-filtered
queries), append or overwrite semantics explicit at the call site. A
partitioned append writes one file per partition value (AQE splits a
large one to its advisory size): nothing caches a read of the table, so
every read lists and opens every file, and the file count is a cost each
later request pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import (
    CAR_DATA_SCHEMA,
    car_data_from_rows,
    load_table,
)


def create_car_table(
    spark: SparkSession,
    path: str,
    partition_by: str | None = "manufacture_year",
) -> None:
    """Create (overwrite) an empty managed car_data dataset at ``path``
    (reference S6 drops + recreates unconditionally; here the overwrite is
    explicit)."""
    empty = spark.createDataFrame([], schema=CAR_DATA_SCHEMA)
    writer = empty.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def insert_rows(
    spark: SparkSession,
    path: str,
    rows: list[dict],
    partition_by: str | None = "manufacture_year",
) -> int:
    """Append row dicts (reference S5). Returns the row count written."""
    df = car_data_from_rows(spark, rows)
    return insert_df(df, path, partition_by=partition_by)


def insert_df(
    df: DataFrame, path: str, partition_by: str | None = "manufacture_year"
) -> int:
    """Append ``df`` at ``path``; returns the row count written.

    A partitioned append writes one file per partition value: the
    ``rebalance`` hint hash-routes each value to one shuffle partition,
    which AQE packs into one task for a small append and splits to its
    advisory size for a large one. Without it every write task emits a
    file for every value it holds (tasks × values), and every later read
    lists and opens them all.

    The count comes from an ``Observation`` on the written rows, not a
    second ``count()`` job that would re-run the source."""
    if partition_by:
        df = df.hint("rebalance", partition_by)
    written = Observation()
    writer = df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode("append")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    return written.get["rows"]


def read_car_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(CAR_DATA_SCHEMA).parquet(path)


def write_year_partitioned_orders(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """Re-layout orders partitioned by order year (hive-style dirs).

    At 100 TB this is the difference between scanning everything and
    scanning one year: a filter on the partition column prunes whole
    directories BEFORE any I/O (PartitionFilters in the scan node —
    asserted in ``tests/test_plans.py``). Low-cardinality time buckets
    (year/month) are the standard choice; high-cardinality partition keys
    make millions of tiny files and kill the driver's listing phase."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("o_year").mode("overwrite").parquet(path)


def read_partitioned_orders(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
