"""JSONL / CSV ingest connectors for the events stream.

A 100 TB lake's interchange tier is rarely parquet end-to-end: upstream
producers drop newline-delimited JSON or CSV, and the engine's job is to
ingest them CORRECTLY — explicit schema-on-read (schema inference scans
the data twice and silently drifts when a partition's sample differs),
lossless timestamp interchange, permissive-mode corruption isolation —
and convert to columnar ASAP. These connectors register the same
`events` relation from both text formats and prove equality against the
parquet-backed oracle.

Timestamps travel as **epoch microseconds (long)** in the text formats:
ISO strings round-trip through parser/formatter pattern pairs that are
engine- and zone-sensitive (exactly the class of silent corruption this
repo's hash gates exist to catch), while an integer is bit-lossless on
any engine. ``timestamp_micros`` restores the native column on read.

Scale notes: text scans have NO predicate pushdown or column pruning
(every byte of every row is parsed — visible in the plan as a bare
FileScan json/csv with empty PushedFilters), which is WHY the ingest
job's first act is a parquet/bucketed rewrite; compression-codec choice
governs splittability (gzip text is unsplittable — one task per file;
plain, bzip2-block, or zstd-framed text splits). The one-time writes here mirror the
corpus once per snapshot (``sources/stored.py``) purely to exercise the
read path.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table
from automotive_big_data_analysis_spark.functions import exact as ex
from automotive_big_data_analysis_spark.sources import stored

TEXTFMT_LOCATION = "/tmp/abda_text_formats"

# Explicit interchange schema — never inferred. ts as epoch-µs long.
EVENTS_TEXT_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, "
    "value double, props string"
)


def _interchange_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).repartition(MIRROR_FILES)


# Part-file count for every interchange mirror. The corpus parquet is a
# single split, so a straight write produced ONE text file — and every
# consumer then parsed/decompressed the whole mirror on ONE core: the
# streaming gates' JSON parse (FileStreamSource assigns whole files to
# tasks), and the gzip connector's decompress (unsplittable codec).
# Eight files = the streaming readers' ``maxFilesPerTrigger``, so the
# bounded replay still drains in ONE micro-batch while the parse runs
# 8-wide; batch connectors read 8-wide too. A real landing tier is
# many-filed by construction — the single-file mirror was the
# unrealistic shape, not this one.
MIRROR_FILES = 8

INTERCHANGE_VERSION = 2  # bump when EVENTS_TEXT_SCHEMA or layout changes

# Deterministic corruption rule for the dead-letter mirror: every event
# whose id is divisible by this is written as a TRUNCATED record (cut
# mid-key, unparseable by any JSON parser) — ~1% of the corpus. Both
# engines can therefore state the clean/quarantined split as a pure
# predicate on event_id, which is what makes the quarantine connector
# value-hash-oracleable.
CORRUPT_MOD = 97


def _ensure_written(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """The events interchange files for (corpus, format), written once
    per corpus snapshot (:func:`stored.mirror`). The family carries the
    interchange version, so a schema change never reads stale files
    written under the old layout."""

    def write(path: str) -> None:
        frame = _interchange_frame(spark, sf_dir)
        writer = frame.write.mode("overwrite")
        if fmt == "csv":
            writer.option("header", "true").csv(path)
        elif fmt == "jsonl_gzip":
            writer.option("compression", "gzip").json(path)
        elif fmt == "jsonl_bzip2":
            writer.option("compression", "bzip2").json(path)
        elif fmt == "orc":
            writer.orc(path)
        elif fmt == "parquet_zstd":
            writer.option("compression", "zstd").parquet(path)
        elif fmt == "jsonl_dirty":
            # the upstream-producer-bug simulation: rows on the
            # CORRUPT_MOD rule are cut mid-key (never valid JSON), the
            # rest serialize normally — one text file set with ~1%
            # injected corruption for the quarantine connector
            good = F.to_json(F.struct(*[F.col(c) for c in frame.columns]))
            bad = F.concat(
                F.lit('{"event_id": '),
                F.col("event_id").cast("string"),
                F.lit(', "ts_us": '),
            )
            frame.select(
                F.when(F.col("event_id") % CORRUPT_MOD == 0, bad)
                .otherwise(good)
                .alias("value")
            ).write.mode("overwrite").text(path)
        else:
            writer.json(path)

    return stored.mirror(
        TEXTFMT_LOCATION,
        sf_dir,
        "events",
        f"events_{fmt}_v{INTERCHANGE_VERSION}",
        write,
    )


def ensure_mirrors(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the interchange mirrors for the corpus — the
    upstream-producer scaffolding the bench harness pre-writes (and
    times separately) so connector queries measure the READ path only.

    The seven format writes are independent single-action jobs against
    disjoint output dirs, each leaving most of the cluster idle (codec-
    bound for gzip/bzip2), so they overlap."""
    fmts = (
        "jsonl",
        "csv",
        "jsonl_gzip",
        "jsonl_bzip2",
        "orc",
        "parquet_zstd",
        "jsonl_dirty",
    )
    stored.overlap(
        *[functools.partial(_ensure_written, spark, sf_dir, fmt) for fmt in fmts]
    )


def _read_events_text(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """events from the text interchange tier, schema-on-read, native ts
    restored. FAILFAST: a malformed interchange row is a producer bug to
    surface, not a null to smuggle into aggregates (PERMISSIVE +
    _corrupt_record column is the quarantine-pipeline variant)."""
    path = _ensure_written(spark, sf_dir, fmt)
    reader = spark.read.schema(EVENTS_TEXT_SCHEMA).option("mode", "FAILFAST")
    if fmt == "csv":
        raw = reader.option("header", "true").csv(path)
    elif fmt == "orc":
        raw = reader.orc(path)
    elif fmt == "parquet_zstd":
        raw = reader.parquet(path)
    else:
        raw = reader.json(path)  # .gz files are codec-detected by suffix
    return raw.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _summary(ev: DataFrame) -> DataFrame:
    """Per-type summary exercising every interchange column class:
    counts (ids), distinct hour buckets (timestamp survived), exact
    value sums (doubles round-tripped bit-for-bit)."""
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct(F.date_trunc("hour", "ts")).alias("n_hours"),
        ex.dsum("value", 6).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def jsonl_events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the summary over the JSONL-ingested events.
    The oracle computes the identical summary from the PARQUET table —
    equality proves the text round-trip lost nothing (ids, timestamps,
    doubles, strings)."""
    return _summary(_read_events_text(spark, sf_dir, "jsonl"))


def csv_events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: same contract over the CSV-ingested events."""
    return _summary(_read_events_text(spark, sf_dir, "csv"))


def jsonl_gzip_events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: same contract over GZIP-compressed JSONL — the
    codec path a real landing tier hits constantly. Correctness is
    identical to the plain connector; the SCALE property differs and is
    the point: gzip text is UNSPLITTABLE, so parallelism collapses to
    one task per file regardless of file size (each .json.gz here is
    small, so the corpus still parallelizes across files; a single huge
    .gz would serialize the whole scan — which is why the ingest tier
    re-writes to a splittable columnar format first, and why producers
    should prefer many medium files or a framed codec like zstd)."""
    return _summary(_read_events_text(spark, sf_dir, "jsonl_gzip"))


def jsonl_bzip2_events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: same contract over BZIP2-compressed JSONL —
    the SPLITTABLE compressed-text codec (the contrast to the gzip
    connector's scale story). A bzip2 stream is a sequence of
    independently decodable blocks with a findable magic marker, so
    Hadoop's input format can split ONE huge .bz2 file into many tasks
    — the property that makes it the safe default when a producer
    insists on single-file compressed text drops (gzip would serialize
    that scan to one task; zstd TEXT needs the native Hadoop codec,
    absent in this sandbox — but columnar zstd works via parquet's own
    implementation: see ``parquet_zstd_events_summary``). The trade: bzip2
    compresses and decompresses far slower than gzip/zstd, which is why
    the ingest tier still rewrites to columnar immediately. Correctness
    contract identical to the other connectors: the parquet-table
    oracle proves the codec round-trip lost nothing."""
    return _summary(_read_events_text(spark, sf_dir, "jsonl_bzip2"))


def parquet_zstd_events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: same contract over a ZSTD-compressed parquet
    mirror — the modern lake's default wire format. Earlier rounds
    documented zstd as environmentally absent; round-10 session 2
    re-probed and found the gap is only the HADOOP TEXT codec (zstd
    JSONL still raises CODEC_NOT_AVAILABLE): parquet carries its own
    codec implementations, so columnar zstd works and is the
    combination that actually matters at 100 TB — splittable row
    groups, framed per-page compression (typically gzip-class ratios
    at several times the speed), pushdown and pruning intact. The
    parquet-table oracle proves the codec round-trip lossless; the
    test asserts the files really carry ZSTD column codecs."""
    return _summary(_read_events_text(spark, sf_dir, "parquet_zstd"))


def orc_events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: same contract over an ORC mirror — the other
    big-data columnar format (Hive-lineage lakes interchange ORC the way
    Spark-lineage ones interchange parquet). Unlike the text formats,
    ORC is splittable, carries an embedded schema (the explicit
    schema-on-read here acts as projection + a type CONTRACT check
    rather than a parser spec), and supports predicate pushdown and
    column pruning — the plan shows a columnar FileScan orc, not a
    full-row parse. Equality against the parquet oracle proves the
    columnar round-trip is lossless for ids, timestamps (epoch-µs
    interchange as everywhere in this tier), doubles, and strings."""
    return _summary(_read_events_text(spark, sf_dir, "orc"))


def idempotent_reingest_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: EXACTLY-ONCE ingest semantics under replay. A
    landing-tier consumer that crashes mid-commit re-reads files it may
    already have ingested; the standard fix is an idempotent, keyed
    merge (MERGE INTO … ON event_id) so re-delivery never double-counts.
    This simulates the failure: the same JSONL batch ingested TWICE
    (union), then collapsed by the natural key before aggregation. The
    oracle is the single-ingest summary from the parquet table —
    equality proves the dedup made the replay invisible.

    Scale shape: ``dropDuplicates(key)`` is one hash shuffle on the
    merge key — exactly the exchange a keyed MERGE pays; duplicates are
    bit-identical rows, so which survives is value-irrelevant."""
    ev = _read_events_text(spark, sf_dir, "jsonl")
    replayed = ev.unionByName(ev)  # the crashed consumer's second read
    return _summary(replayed.dropDuplicates(["event_id"]))


def jsonl_quarantine_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: PERMISSIVE/dead-letter ingest — the landing
    tier that CANNOT halt on one bad record (FAILFAST is the
    interchange-contract stance; a public ingest endpoint quarantines
    instead). Reads a mirror with ~1% deterministically injected
    truncated records, parses with ``from_json`` +
    ``columnNameOfCorruptRecord`` (the corrupt row keeps its RAW line —
    the dead-letter payload a production pipeline ships to the
    quarantine sink for replay after the producer fix), and emits the
    two-tier accounting: the per-type summary over CLEAN rows plus the
    ``quarantined`` row counting what was refused. The oracle states
    the identical split as a predicate on the parquet table — equality
    proves the parser quarantined EXACTLY the injected rows and the
    clean tier lost nothing.

    Scale shape: ONE text scan — tier tagging is a projection and both
    tiers aggregate in the same (tier, event_type) hash aggregate with
    map-side partial combine; no second pass over the landing files
    (the production variant forks the same parsed frame to a data sink
    and a dead-letter sink inside one ``foreachBatch``).

    Quarantined accounting semantics: ``n_events`` counts refused
    lines; hours/value/users are NULL — unknown, not zero (nothing was
    parsed), and both engines agree NULL-for-empty through the shared
    aggregate shapes."""
    path = _ensure_written(spark, sf_dir, "jsonl_dirty")
    parsed = spark.read.text(path).select(
        F.from_json(
            "value",
            EVENTS_TEXT_SCHEMA + ", _corrupt_record string",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("p")
    )
    is_clean = F.col("p._corrupt_record").isNull()
    tagged = parsed.select(
        F.when(is_clean, F.lit("clean"))
        .otherwise(F.lit("quarantined"))
        .alias("tier"),
        F.when(is_clean, F.col("p.event_type")).alias("event_type"),
        F.when(is_clean, F.timestamp_micros(F.col("p.ts_us"))).alias("ts"),
        F.when(is_clean, F.col("p.value")).alias("value"),
        F.when(is_clean, F.col("p.user_id")).alias("user_id"),
    )
    return tagged.groupBy("tier", "event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct(F.date_trunc("hour", "ts")).alias("n_hours"),
        ex.dsum("value", 6).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


_SUMMARY_SQL = f"""
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT date_trunc('hour', ts)) AS n_hours,
           {ex.dsum_sql("value", 6)} AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
"""

_QUARANTINE_SQL = f"""
    WITH tagged AS (
        SELECT CASE WHEN event_id % {CORRUPT_MOD} = 0
                    THEN 'quarantined' ELSE 'clean' END AS tier,
               CASE WHEN event_id % {CORRUPT_MOD} != 0
                    THEN event_type END AS event_type,
               CASE WHEN event_id % {CORRUPT_MOD} != 0 THEN ts END AS ts,
               CASE WHEN event_id % {CORRUPT_MOD} != 0
                    THEN value END AS value,
               CASE WHEN event_id % {CORRUPT_MOD} != 0
                    THEN user_id END AS user_id
        FROM events
    )
    SELECT tier, event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT date_trunc('hour', ts)) AS n_hours,
           {ex.dsum_sql("value", 6)} AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM tagged GROUP BY tier, event_type
"""

ORACLE: dict[str, str] = {
    "source_jsonl_events": _SUMMARY_SQL,
    "source_csv_events": _SUMMARY_SQL,
    "source_jsonl_gzip_events": _SUMMARY_SQL,
    "source_orc_events": _SUMMARY_SQL,
    "source_jsonl_bzip2_events": _SUMMARY_SQL,
    "source_parquet_zstd_events": _SUMMARY_SQL,
    "source_idempotent_reingest_events": _SUMMARY_SQL,
    "source_jsonl_quarantine_events": _QUARANTINE_SQL,
}

QUERIES = {
    "source_jsonl_events": jsonl_events_summary,
    "source_csv_events": csv_events_summary,
    "source_jsonl_gzip_events": jsonl_gzip_events_summary,
    "source_orc_events": orc_events_summary,
    "source_jsonl_bzip2_events": jsonl_bzip2_events_summary,
    "source_parquet_zstd_events": parquet_zstd_events_summary,
    "source_idempotent_reingest_events": idempotent_reingest_summary,
    "source_jsonl_quarantine_events": jsonl_quarantine_summary,
}
