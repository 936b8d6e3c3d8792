"""SparkSession factory.

The reference opens one impyla (HiveServer2 Thrift) connection per request
(reference ``backend/utils.py:142-143``). Here a single shared
``SparkSession`` is process-wide; all configuration relevant to a large
cluster is set declaratively so the same code runs on ``local[N]`` in tests
and on a 1000-executor cluster unchanged.

Scale-relevant choices:

* AQE on — runtime shuffle-partition coalescing, skew-join splitting, and
  plan re-optimization; at 100 TB the static ``shuffle.partitions`` value is
  only an upper bound, AQE right-sizes it per stage.
* Arrow on — every pandas interchange (Pandas UDFs, ``toPandas`` at the API
  boundary) is columnar-batched, not row-pickled.
* session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-locale-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "automotive_big_data_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local runs; on a
    cluster, leave it unset and let spark-submit provide it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # full PushedFilters/ReadSchema in explain output (default truncates
        # at 100 chars, which blinds the plan-shape assertions)
        .config("spark.sql.maxMetadataStringLength", "2000")
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
