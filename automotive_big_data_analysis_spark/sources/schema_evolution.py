"""Parquet schema-evolution connector: reading across producer
generations with ``mergeSchema``.

A 100 TB lake's tables are written by producers that evolve: an old
generation of files lacks columns a new generation carries, and the
engine must read BOTH correctly — new columns null-filled for old
files, no rewrite of petabytes of history. This module materializes a
two-generation mirror of ``events`` (generation 1 drops the ``value``
column — the "old producer"; generation 2 carries it) under
partition-discovery directories (``gen=1`` / ``gen=2``), reads the
union with ``mergeSchema=true``, and proves via the DuckDB oracle that
the merged read null-fills exactly (generation membership is
content-keyed on ``event_id``, so the oracle replays the split from
the canonical table).

Scale notes: ``mergeSchema`` reconciles footers at planning time (cost
scales with file count, not bytes — on a real lake the table format's
schema registry replaces per-footer merging); the ``gen`` partition
directory is a discovered partition column, so generation-targeted
queries prune whole directories (``WHERE gen = 2`` never opens
generation-1 files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.functions import exact as ex
from automotive_big_data_analysis_spark.sources import stored
from automotive_big_data_analysis_spark.sources.text_formats import (
    _interchange_frame,
)

SCHEMA_EVO_LOCATION = "/tmp/abda_schema_evo"
EVO_VERSION = 1  # bump when the generation layout changes

# Generation membership — content-keyed so both engines replay it.
_GEN1_COND = "event_id % 2 = 0"  # old producer: no `value` column


def ensure_generations(spark: SparkSession, sf_dir: str) -> str:
    """Write the two-generation mirror once per corpus snapshot
    (:func:`stored.mirror`). A root ``_SUCCESS`` marks it complete once
    both generations are written; readers skip ``_`` files."""

    def write(path: str) -> None:
        # epoch-µs interchange columns (bit-lossless timestamps across
        # engines — text_formats' rule applies to parquet mirrors too)
        ev = _interchange_frame(spark, sf_dir)
        gen1 = ev.where(F.expr(_GEN1_COND)).drop("value", "props")
        gen2 = ev.where(~F.expr(_GEN1_COND)).drop("props")
        gen1.write.mode("overwrite").parquet(f"{path}/gen=1")
        gen2.write.mode("overwrite").parquet(f"{path}/gen=2")
        open(f"{path}/_SUCCESS", "w").close()

    return stored.mirror(
        SCHEMA_EVO_LOCATION, sf_dir, "events", f"events_gen_v{EVO_VERSION}", write
    )


def read_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged two-generation read: ``value`` exists in the unified
    schema and is null for generation-1 rows; ``gen`` is the discovered
    partition column."""
    path = ensure_generations(spark, sf_dir)
    raw = spark.read.option("mergeSchema", "true").parquet(path)
    return raw.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.col("gen").cast("int").alias("gen"),
    )


def schema_evolution_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: per-type accounting across generations. The
    oracle recomputes from the canonical parquet table with the split
    replayed as a CASE — equality proves the merged read null-fills
    generation 1 exactly, loses no rows, and keeps generation-2 doubles
    bit-exact."""
    merged = read_merged(spark, sf_dir)
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("gen") == 1).cast("long")).alias("n_legacy"),
        F.count("value").alias("n_with_value"),
        ex.dsum("value", 6).alias("total_value"),
    )


ORACLE: dict[str, str] = {
    "source_schema_evolution_events": f"""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN {_GEN1_COND} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_legacy,
               COUNT(CASE WHEN NOT ({_GEN1_COND}) THEN value END)
                   AS n_with_value,
               ROUND(CAST(SUM(CASE WHEN NOT ({_GEN1_COND})
                                   THEN CAST(value AS {ex.SQL_DEC}) END)
                          AS DOUBLE), 6) AS total_value
        FROM events GROUP BY event_type
    """,
}

QUERIES = {
    "source_schema_evolution_events": schema_evolution_summary,
}
