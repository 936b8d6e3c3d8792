"""Schemas and table loaders.

Two data models live here:

1. ``CAR_DATA_SCHEMA`` — the reference's single denormalized table
   (authoritative Hive schema at reference ``backend/config.py:8-23``;
   column comments in ``backend/table.ipynb:7-30``). DECIMAL columns are
   declared DoubleType in the working schema because the reference's own
   generator produces Python floats (reference ``backend/func.py:100-112``)
   and the DuckDB oracle compares doubles; DecimalType belongs only at a
   storage edge if a consumer requires exact decimals.

2. The driver's TPC-H-ish corpus (``region nation customer supplier part
   orders lineitem events documents embeddings``) — one parquet per table
   under a scale-factor directory.

Loaders return plain DataFrames; nothing is collected. ``load_tables`` also
registers temp views so operators can be written in either the DataFrame or
the SQL API — Catalyst produces the same plan for both.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from automotive_big_data_analysis_spark.sources.stored import source_fingerprint

# Reference table: backend/config.py:8-23.
CAR_DATA_SCHEMA = T.StructType(
    [
        T.StructField("car_brand", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("car_model", T.StringType()),
        T.StructField("manufacturer_suggested_price", T.DoubleType()),
        T.StructField("engine_horsepower", T.IntegerType()),
        T.StructField("num_doors", T.IntegerType()),
        T.StructField("min_reference_price", T.DoubleType()),
        T.StructField("car_type", T.StringType()),
        T.StructField("manufacture_year", T.IntegerType()),
        T.StructField("fuel_capacity", T.DoubleType()),
        T.StructField("popularity", T.IntegerType()),
        T.StructField("discount_percentage", T.DoubleType()),
        T.StructField(
            "historical_price", T.MapType(T.StringType(), T.IntegerType())
        ),
        T.StructField(
            "city_license_plates", T.MapType(T.StringType(), T.IntegerType())
        ),
    ]
)

# API car view column mapping (reference backend/app.py:15-26): db name →
# frontend name. `city` and `fuel_capacity` are dropped from the view.
CAR_FIELD_MAPPING = {
    "car_brand": "brand",
    "car_model": "model",
    "manufacturer_suggested_price": "guide_price",
    "engine_horsepower": "horsepower",
    "num_doors": "doors",
    "min_reference_price": "min_price",
    "popularity": "attention",
    "discount_percentage": "discount",
    "car_type": "car_type",
}

# Upload path pass-through whitelist (reference backend/app.py:218-222).
UPLOAD_PASSTHROUGH_COLUMNS = [
    "city",
    "manufacture_year",
    "fuel_capacity",
    "historical_price",
    "city_license_plates",
]

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Columns stored as naive parquet timestamps (INT64 TIMESTAMP(MICROS),
# isAdjustedToUTC=false). Spark reads them as TimestampNTZType;
# :func:`ntz_to_instant` turns them into TimestampType so downstream epoch
# casts (``cast('long')`` / ``cast('double')``) work uniformly. Spark 4.1
# rejects TIMESTAMP(NANOS) files with PARQUET_TYPE_ILLEGAL (a loud error,
# never a silent misread).
_NAIVE_TS_COLUMNS = {"events": ["ts"]}


def ntz_to_instant(df: DataFrame, col: str) -> DataFrame:
    """Read a naive ``TimestampNTZType`` column as a UTC instant
    (``TimestampType``), the oracle's naive-as-UTC reading. Other column
    types pass through unchanged.

    A plain ``cast('timestamp')`` interprets the wall clock in the session
    time zone; subtracting the NTZ epoch gives a zone-free interval, and
    adding it to the instant epoch keeps the result zone-free too, so no
    session conf is read or written."""
    if not isinstance(df.schema[col].dataType, T.TimestampNTZType):
        return df
    return df.withColumn(
        col,
        F.expr(
            f"timestamp_seconds(0) + ({col} - timestamp_ntz'1970-01-01 00:00:00')"
        ),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. Parquet scan → column pruning and predicate
    pushdown are free once downstream operators project/filter.

    Works on ANY session, not just ones built by :func:`get_spark`, and
    reads and writes no session conf. Naive timestamp columns (see
    ``_NAIVE_TS_COLUMNS``) are normalized by :func:`ntz_to_instant`, so
    absolute-epoch arithmetic (``cast(ts as long)``) agrees with DuckDB's
    ``EPOCH()`` regardless of the session time zone.

    The ANALYZED DataFrame is memoized (:func:`memoized`):
    ``spark.read.parquet`` pays a driver-side footer/schema read plus
    file listing on EVERY call (measured 70-290 ms per table, ~2 calls
    per registered query). This is metadata/plan reuse only — the
    DataFrame is an unexecuted plan, every action still scans the
    parquet files — and is what reading from a catalog table (saved
    metadata, no per-query inference) gives a production deployment."""

    def read() -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for col in _NAIVE_TS_COLUMNS.get(name, []):
            df = ntz_to_instant(df, col)
        return df

    return memoized(spark, sf_dir, name, "scan", read)


def memoized(
    spark: SparkSession, sf_dir: str, table: str, what: str, build: Callable
):
    """The session memo for anything derived from one corpus table:
    ``build()``'s result, kept per (sf_dir, table, what) while that
    table's ``source_fingerprint`` (file names/sizes/mtimes — an
    ``os.stat`` walk, no data read) is unchanged. An in-session rewrite
    of the table directory self-invalidates the entry: it is rebuilt,
    and the superseded value's blocks are freed (:func:`_free`). The
    memo lives on the session object, so a stopped or replaced session
    drops it.

    Concurrency: safe to call from driver threads without a lock. The
    memo is a plain dict whose get/item assignment are each atomic under
    the GIL, so it holds at most one entry per key. Two threads that
    miss at once both build and the last write wins; the loser's value
    is not freed, as its caller may still be using it."""
    memo = vars(spark).setdefault("_abda_table_memo", {})
    key = (sf_dir, table, what)
    fp = source_fingerprint(sf_dir, table)
    cached = memo.get(key)
    if cached is not None and cached[0] == fp:
        return cached[1]
    value = build()
    stale = memo.get(key)
    memo[key] = (fp, value)
    if stale is not None and stale[0] != fp:
        _free(stale[1])
    return value


def _free(value) -> None:
    """Release the executor blocks a memoized value pins. A
    ``localCheckpoint``-ed frame's blocks belong to the checkpointed RDD
    under its ``LogicalRDD`` plan, which ``unpersist()`` does not reach."""
    if not isinstance(value, DataFrame):
        return
    value.unpersist()
    plan = value._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def release(sf_dir: str | None = None) -> int:
    """Drop the active session's derived memo entries (every corpus, or
    ``sf_dir``'s) and free their blocks; table scan plans stay. Entries
    self-invalidate on a corpus rewrite, so this is only about memory:
    long-lived callers run it between workload families. Returns the
    number of entries dropped."""
    spark = SparkSession.getActiveSession()
    memo = vars(spark).get("_abda_table_memo", {}) if spark else {}
    keys = [k for k in list(memo) if k[2] != "scan" and sf_dir in (None, k[0])]
    for key in keys:
        _free(memo.pop(key, (None, None))[1])
    return len(keys)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a small scan before CPU-heavy per-row work.

    A small parquet file arrives as ONE input split, so an expensive
    per-row pipeline (tokenize / md5 / regexp over every row) runs on a
    single core no matter how many the cluster has. Spreading the rows
    first costs a narrow shuffle of the base rows and buys full
    parallelism for everything downstream. At 100 TB the scan itself
    yields thousands of splits and the guard below makes this a no-op —
    the repartition only fires when scan parallelism is under the
    session default.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    # Two-stage guard. inputFiles() probes the file index without
    # compiling a physical plan (cheap) — fewer files than cores always
    # means under-parallelism, so repartition straight away. When the
    # file count LOOKS sufficient, confirm with the scan's actual
    # partition count (df.rdd compiles a plan — paid only on this rare
    # branch): maxPartitionBytes packing can coalesce many small files
    # into few splits, which is exactly the small-file CPU-heavy case
    # this helper exists for.
    if len(df.inputFiles()) >= n and df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load the full corpus; optionally register each as a temp view."""
    tables = {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}
    if register_views:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
    return tables


def car_data_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Build a car_data DataFrame from row dicts (test fixtures, small
    ingests). Missing columns become nulls, matching the reference's
    defaultdict/``.get(k, 0)`` tolerance for absent fields."""
    filled = [
        {field.name: row.get(field.name) for field in CAR_DATA_SCHEMA.fields}
        for row in rows
    ]
    return spark.createDataFrame(filled, schema=CAR_DATA_SCHEMA)
