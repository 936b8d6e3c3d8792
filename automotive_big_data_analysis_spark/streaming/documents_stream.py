"""Streaming corpus curation (extension — the reference has no streaming
surface, SURVEY §2.9; this is the streaming face of ``operators/
pipeline.py``).

A training-data pipeline rarely gets its corpus as one batch: crawls and
uploads arrive continuously, and the cheap early stages — cleaning,
quality gating, exact dedup — belong on the stream so the expensive batch
stages (near-dup clustering, global sampling) run over an already-shrunk
corpus. The stages compose the SAME column expressions as the batch
pipeline (``functions/text.py``), so batch and stream agree row-for-row;
only dedup semantics differ by necessity (streaming dedup is
first-arrival-wins within the watermark horizon, batch is min-doc_id —
identical corpora keep identical survivor COUNTS, the kept ids may
differ, which is exactly the trade stated on ``dropDuplicates``' tin).

Scale: cleaning/quality are stateless per-row projections (no state, no
shuffle beyond the source); ``dropDuplicatesWithinWatermark`` keys state
by content hash and EVICTS entries older than the watermark — without the
watermark bound, streaming exact-dedup state would grow with the corpus
forever. Near-dup removal stays batch-side by design: MinHash banding
needs corpus-wide buckets, the standard split between streaming ingest
and periodic batch compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from automotive_big_data_analysis_spark.functions import text as tx
from automotive_big_data_analysis_spark.streaming.events_stream import (
    file_stream,
    run_to_memory,
)

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ingest_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

DEFAULT_WATERMARK = "1 hour"
QUALITY_MIN = 0.4


def read_document_stream(spark: SparkSession, path: str) -> DataFrame:
    """Document stream over a parquet file or directory with the
    declared :data:`DOCUMENT_SCHEMA` (:func:`file_stream`)."""
    return file_stream(spark, path, DOCUMENT_SCHEMA)


def clean_quality_stream(
    docs: DataFrame, quality_min: float = QUALITY_MIN
) -> DataFrame:
    """Stateless clean + quality gate: strip markup, redact PII, collapse
    whitespace, score, and drop below-threshold docs. Identical column
    expressions to the batch pipeline — pure projections, zero state."""
    return (
        docs.withColumn("clean_text", tx.clean_text("text"))
        .withColumn("quality", tx.quality_score("clean_text"))
        .where(F.col("quality") >= quality_min)
        .select("doc_id", "ingest_ts", "lang", "source", "clean_text", "quality")
    )


def curated_stream(
    docs: DataFrame,
    quality_min: float = QUALITY_MIN,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Clean → quality gate → streaming exact dedup on the cleaned text's
    md5. ``dropDuplicatesWithinWatermark`` keeps the first arrival per
    content hash and evicts state older than the watermark — bounded
    state, the streaming analog of the batch pipeline's keep-first
    exact-dedup stage."""
    gated = clean_quality_stream(docs, quality_min).withColumn(
        "content_hash", F.md5("clean_text")
    )
    return gated.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def write_curated_stream(
    docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    quality_min: float = QUALITY_MIN,
    watermark: str = DEFAULT_WATERMARK,
):
    """Continuously write the curated survivors as lang-partitioned
    parquet — the same layout ``operators/pipeline.curate_documents``
    writes batch-side, so downstream per-language jobs prune identically
    whichever path produced the corpus.

    ``foreachBatch`` + ``partitionBy``: the parquet sink proper can't
    repartition-by-column per micro-batch. Exactly-once caveat: foreachBatch
    is at-least-once on retry after a sink-side failure; the checkpoint
    makes re-delivery rare, and re-delivered docs are exact duplicates a
    downstream exact-dedup pass removes — acceptable for corpus ingest.
    Returns the started StreamingQuery (caller stops/awaits)."""
    kept = curated_stream(docs, quality_min, watermark)

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").partitionBy("lang").parquet(out_dir)

    return (
        kept.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def read_corpus_stream(spark: SparkSession, path: str) -> DataFrame:
    """Stream the REAL ``documents`` corpus parquet (:func:`file_stream`,
    schema probed batch-side) and synthesize a deterministic event-time
    column: ``ingest_ts`` = epoch + 1 day +
    doc_id seconds — the arrival order a replay of the corpus
    simulates. The one-day offset keeps every event time strictly above
    the stream's INITIAL watermark (epoch 0): a row landing exactly on
    the watermark is classified late and silently dropped (doc_id 0
    was, before the offset)."""
    return file_stream(spark, path).withColumn(
        "ingest_ts",
        F.timestamp_micros((F.col("doc_id") + 86_400) * 1_000_000),
    )


def stream_curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query #3 for the streaming layer: the documents
    corpus replayed as a stream through the cheap curation stages —
    stateless clean + quality gate, then STREAMING exact dedup via
    ``dropDuplicatesWithinWatermark`` keyed on (lang, cleaned-content
    hash) — with per-lang survivor accounting aggregated batch-side
    over the sink's survivors. This hash-gates the streaming
    stateful-dedup operator itself: the oracle computes the same
    survivors from the parquet table (distinct cleaned texts among
    quality passers per lang), so equality proves the state machine
    admits exactly one row per content key.

    Determinism: WHICH doc_id survives per key depends on micro-batch
    arrival order, so the gate aggregates only key-functional columns
    (count, quality, cleaned length — identical across duplicates of a
    key). The replay watermark is effectively unbounded so the bounded
    corpus dedups globally; production bounds it (state eviction) and
    accepts re-admits beyond the horizon — the trade stated on the
    operator's tin."""
    from automotive_big_data_analysis_spark.functions import exact as ex

    docs = read_corpus_stream(spark, f"{sf_dir}/documents.parquet")
    gated = clean_quality_stream(docs).withColumn(
        "content_hash", F.md5("clean_text")
    )
    deduped = gated.withWatermark(
        "ingest_ts", "3650 days"
    ).dropDuplicatesWithinWatermark(["lang", "content_hash"])
    # Project the survivors to the three columns the accounting needs
    # BEFORE the memory sink (stateless projection after the stateful
    # dedup, so the gated operator is untouched): the sink otherwise
    # materializes every survivor's full cleaned text in driver memory
    # only for total_chars to reduce it to a length (guide §2.3 —
    # project before the data moves; §5 — keep data work off the
    # driver). Same rows, same aggregate values.
    slim = deduped.select(
        "lang", "quality", F.length("clean_text").alias("clean_len")
    )
    return (
        run_to_memory(slim)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            ex.davg("quality").alias("avg_quality"),
            F.sum("clean_len").cast("long").alias("total_chars"),
        )
    )


def _curated_oracle_sql() -> str:
    """Batch replay of the streaming curation: clean + quality score,
    survivors = distinct (lang, cleaned text) among quality passers."""
    from automotive_big_data_analysis_spark.functions import exact as ex

    return f"""
    WITH cleaned AS (
        SELECT doc_id, lang, {tx.clean_text_sql("text")} AS clean_text
        FROM documents
    ), quality AS (
        SELECT lang, clean_text,
               {tx.quality_score_sql("clean_text")} AS quality
        FROM cleaned
    ), survivors AS (
        SELECT lang, clean_text, MAX(quality) AS q
        FROM quality WHERE quality >= {QUALITY_MIN}
        GROUP BY lang, clean_text
    )
    SELECT lang, COUNT(*) AS n_kept,
           {ex.davg_sql("q")} AS avg_quality,
           CAST(SUM(length(clean_text)) AS BIGINT) AS total_chars
    FROM survivors GROUP BY lang
    """


ORACLE: dict[str, str] = {
    "stream_curated_documents": _curated_oracle_sql(),
}

QUERIES = {
    "stream_curated_documents": stream_curated_documents,
}


def curation_counters_stream(
    docs: DataFrame,
    quality_min: float = QUALITY_MIN,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Per-lang survivor accounting over the curated stream (windowed by
    ingest hour so the aggregation state finalizes and evicts with the
    watermark — an unwindowed running count would hold every lang×total
    row open forever in append mode)."""
    kept = curated_stream(docs, quality_min, watermark)
    return (
        kept.groupBy(F.window("ingest_ts", "1 hour").alias("w"), "lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.avg("quality").alias("avg_quality"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "n_kept",
            F.round("avg_quality", 6).alias("avg_quality"),
        )
    )
