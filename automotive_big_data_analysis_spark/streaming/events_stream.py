"""Streaming event pipelines (extension — the reference has no streaming
surface at all, SURVEY §2.9).

Each builder takes an input *streaming* DataFrame (``spark.readStream``
over a file source locally; Kafka or similar in production) and returns
the transformed streaming DataFrame. Watermarks bound state: late events
beyond the watermark are dropped, windows/sessions finalize and evict.

The transformations are the same declarative expressions as the batch
operators — Catalyst plans both; only the source/sink and the watermark
differ. ``run_to_memory`` drives a bounded file stream to completion for
tests and demos.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from automotive_big_data_analysis_spark.functions import exact as ex

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DEFAULT_WATERMARK = "10 minutes"
SESSION_GAP = "30 minutes"


def file_stream(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet file-source stream over ``path``, a directory or a single
    file (FileStreamSource wants a directory, so a single file streams
    its parent through a ``pathGlobFilter``). Streaming sources never
    infer: ``schema`` declares it, else the physical schema is probed
    batch-side. ``maxFilesPerTrigger`` keeps micro-batches bounded so a
    huge backlog doesn't become one giant batch."""
    reader = spark.readStream.option("maxFilesPerTrigger", 8)
    src = path
    if os.path.isfile(path):
        src = os.path.dirname(path)
        reader = reader.option("pathGlobFilter", os.path.basename(path))
    return reader.schema(schema or spark.read.parquet(path).schema).parquet(src)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """Event stream over the corpus ``events`` parquet layout
    (:func:`file_stream`). A naive ``ts`` gets the batch catalog's
    normalization (``ntz_to_instant``), so the stream's ``ts`` equals
    ``load_table``'s."""
    from automotive_big_data_analysis_spark.catalog import ntz_to_instant

    stream = ntz_to_instant(file_stream(spark, path), "ts")
    return stream.select([f.name for f in EVENT_SCHEMA.fields])


def read_event_stream_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Streaming ingest of the JSONL interchange tier
    (``sources/text_formats.py``): producers drop newline-delimited JSON
    into a landing directory and the stream picks each file up exactly
    once (file-source bookkeeping). Same discipline as the batch
    connector — declared schema (streaming sources REQUIRE one),
    epoch-µs timestamp interchange restored to a native ``ts`` so every
    downstream watermark/window operator is source-agnostic."""
    from automotive_big_data_analysis_spark.sources.text_formats import (
        EVENTS_TEXT_SCHEMA,
    )

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 8)
        .schema(EVENTS_TEXT_SCHEMA)
        .json(path)
    )
    return stream.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def hourly_rollup_stream(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Streaming tumbling-hour rollup per event type. State per open
    window×type; the watermark finalizes windows older than max(ts) - wm."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            ex.dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_stream(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming gap-based sessions per user via native ``session_window``
    — merges adjacent state as events arrive, emits on watermark close."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            ex.dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def anomaly_stream(
    events: DataFrame,
    moments: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming anomaly detection against a BATCH-TRAINED baseline —
    the production split for monitoring pipelines: per-type hourly
    moments train offline on history (``analytics.hourly_moments``) and
    broadcast; the stream keeps one watermark-bounded windowed count
    aggregate and flags each closing hour whose count deviates |z| > 2
    from the baseline. Stream-static join after the aggregation is
    stateless on the static side, so state stays
    |open windows × types|.

    The z arithmetic is ``analytics.anomaly_condition`` — the SAME
    expression tree as the batch detector, so a stream replay of a day
    flags exactly the hours the batch job flags against the same
    baseline (``tests/test_streaming.py`` pins this agreement)."""
    from automotive_big_data_analysis_spark.operators.analytics import (
        anomaly_condition,
    )

    hourly = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    mean, z, cond = anomaly_condition()
    return (
        hourly.join(F.broadcast(moments), "event_type")
        .where(cond)
        .select(
            "event_type",
            F.col("w.start").alias("hour"),
            "n",
            F.round(mean, 6).alias("mean_n"),
            F.round(z, 6).alias("z"),
        )
    )


def user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count and value total, one snapshot row emitted per
    user per micro-batch (update semantics).

    This is the escape hatch for stateful logic ``session_window`` /
    windowed aggs can't express (custom eviction, cross-event rules,
    model state). State lives in the state store keyed by user_id —
    partition-parallel, fault-tolerant, bounded by distinct keys, never
    driver-side. With ``GroupStateTimeout.EventTimeTimeout`` + a
    watermark the same operator finalizes and evicts idle users; the
    running-totals profile keeps ``NoTimeout`` so results are exactly
    reproducible under any micro-batch split.

    Exactness (round 9 — what makes this HASH-gateable): the state
    accumulates value as INTEGER MICRO-UNITS (floor(v·1e6 + 0.5), the
    repo's shared rounding tree), so the running total is an
    order-free integer sum — bit-identical under ANY micro-batch
    split or arrival order — and the emitted ``total_value`` is one
    deterministic quantize of that integer, replayed exactly by the
    DuckDB oracle. A raw float accumulator would make the final state
    depend on addition order, which batching controls."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
            # cast each quantized value to int64 BEFORE summing so the
            # accumulation is integer end-to-end (a float64 sum of
            # integer-valued doubles loses exactness past 2^53; the
            # DuckDB oracle casts each FLOOR to BIGINT before summing)
            micro += int(np.floor(v * 1e6 + 0.5).astype(np.int64).sum())
        state.update((n, micro))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [math.floor(micro / 10000.0 + 0.5) / 100.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, total_value double",
        "n long, micro long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


EVICT_GAP_MS = 7 * 24 * 3600 * 1000  # idle gap before a user finalizes


def user_totals_evict_stream(events: DataFrame) -> DataFrame:
    """The FINALIZE-AND-EVICT profile of the custom stateful operator
    (round 10 — the eviction path :func:`user_totals_stream`'s
    docstring promises but never exercises): per-user running totals
    with ``GroupStateTimeout.EventTimeTimeout`` — a user idle for
    ``EVICT_GAP_MS`` past the event-time watermark is EMITTED ONCE and
    its state REMOVED from the store. Nothing is emitted while a user
    is active; the only output rows are eviction finalizations. This is
    the unbounded-keyspace posture: state size tracks ACTIVE users, not
    all users ever seen.

    Exactness under re-activation (what makes this hash-gateable): a
    user that returns after eviction simply opens a NEW state
    incarnation; each incarnation emits exactly one PARTIAL row
    (n_events, integer micro-units) at its own timeout, and since the
    micro-unit sum is an order-free integer, the per-user SUM of the
    emitted partials is bit-identical to the batch aggregate under ANY
    micro-batch split — partial rows are the deterministic unit, not
    eviction timing. Consumers re-aggregate by user (the gate query
    does; a production sink MERGEs into a keyed table).

    Timeout discipline: the timeout timestamp is ``last event time +
    gap``, floored to strictly-after-the-current-watermark (Spark
    rejects a timeout at or behind the watermark — reachable here when
    an out-of-order landing file delivers a user's old events after the
    watermark has already advanced past their idle horizon); the floor
    only delays eviction, never changes the emitted partials."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, micro = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "micro": [micro],
                }
            )
            return
        n, micro = state.get if state.exists else (0, 0)
        last_ms = 0
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
            micro += int(np.floor(v * 1e6 + 0.5).astype(np.int64).sum())
            batch_max = pd.Timestamp(pdf["ts"].max()).value // 1_000_000
            last_ms = max(last_ms, int(batch_max))
        state.update((n, micro))
        state.setTimeoutTimestamp(
            max(
                last_ms + EVICT_GAP_MS,
                state.getCurrentWatermarkMs() + 60_000,
            )
        )

    return events.withWatermark("ts", DEFAULT_WATERMARK).groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        "user_id long, n_events long, micro long",
        "n long, micro long",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def enriched_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich each streaming event with a static
    dimension row (event_type → attributes). The static side is planned
    per micro-batch — Catalyst broadcasts it when small, so enrichment
    adds no shuffle to the stream. This is the standard pattern for
    joining a stream against reference data that changes rarely (reload
    the dim and restart, or swap in a Delta/JDBC source, in production)."""
    return events.join(F.broadcast(dim), "event_type").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        (F.col("value") * F.col("weight")).alias("weighted_value"),
    )


CONVERSION_HORIZON = "1 hour"


def conversion_stream(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Stream-stream join: attribute each purchase to the same user's
    clicks in the preceding hour. Both sides carry watermarks and the
    join condition bounds event-time distance, so the state store can
    evict clicks older than watermark + horizon — without the time bound
    a stream-stream join would buffer both streams forever."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {CONVERSION_HORIZON}")
        ),
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts", "value")


# Scratch root for the BOUNDED-replay gates' checkpoints. Without an
# explicit checkpointLocation Spark puts the temp checkpoint under
# java.io.tmpdir (/tmp — disk-backed on this host), and every
# micro-batch then pays offset-WAL + commit-log + state-store delta
# writes with fsync against the disk (~250-320 ms of the instrumented
# ~550-700 ms per-batch floor, STREAM_INSTRUMENT_r13.txt). These
# checkpoints have no recovery value past the call — the sink is an
# in-memory table that dies with the process — so they belong on
# node-local fast scratch, the same placement rule as RocksDB local
# dirs or shuffle local dirs (guide §6). A real deployment with a
# durable sink sets a durable checkpointLocation on its own query;
# this root only serves the bounded-replay harness gates. Env override
# for hosts without /dev/shm semantics; None → the Python temp dir.
_STREAM_SCRATCH_ROOT = os.environ.get(
    "SPARK_GRAFT_STREAM_SCRATCH",
    "/dev/shm" if os.path.isdir("/dev/shm") else None,
)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "append",
    then: Iterable[Callable[[], None]] = (),
) -> DataFrame:
    """Drive a bounded stream to completion into an in-memory sink and
    return the sink's rows as a batch DataFrame — the one bounded-replay
    path of the package (gates, tests, demos).

    Each callable in ``then`` runs after a drain and is followed by one
    more drain (heartbeat files that move an event-time watermark). The
    returned frame reads the sink itself, so its rows stay in the JVM
    until the frame is dropped and no value passes through Python. The
    sink's view and the scratch checkpoint are removed before return,
    also when a batch fails. Stateful operators keep one state store per
    shuffle partition at the session width; the session conf is neither
    read nor written."""
    spark = stream_df.sparkSession
    name = f"run_to_memory_{uuid.uuid4().hex}"
    ckpt = tempfile.mkdtemp(prefix="abda_stream_ckpt_", dir=_STREAM_SCRATCH_ROOT)
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            for step in then:
                step()
                q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def _landing_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus ``events`` as the JSONL landing-directory stream the
    gates replay (the interchange mirror, written once per snapshot)."""
    from automotive_big_data_analysis_spark.sources.text_formats import (
        _ensure_written,
    )

    return read_event_stream_jsonl(spark, _ensure_written(spark, sf_dir, "jsonl"))


def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the JSONL landing-directory STREAM
    (``read_event_stream_jsonl``) driven through the watermarked
    tumbling-hour rollup to completion, returned as the batch DataFrame
    of results — so the streaming layer answers to the same DuckDB
    value-hash gate as every batch operator (the oracle computes the
    identical rollup from the parquet ``events`` table; equality proves
    ingest, the epoch-µs restore, windowing, and the exact-decimal sum
    all agree with the batch engine).

    ``complete`` output mode: a bounded replay's final windows are
    within the watermark and would be withheld forever under ``append``
    — the classic bounded-stream pitfall. In production this query runs
    ``update``/``append`` into a keyed sink with windows finalizing as
    the watermark passes; the memory sink here is the test-scale
    harness, not the production sink.

    Determinism: micro-batch boundaries (``maxFilesPerTrigger``) change
    WHEN state updates, never the final aggregate values — counts and
    DECIMAL-exact sums are order- and batching-independent."""
    return run_to_memory(
        hourly_rollup_stream(_landing_stream(spark, sf_dir)), "complete"
    )


def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query #2 for the streaming layer: the JSONL
    landing-directory stream driven through the native
    ``session_window`` gap-merge aggregation — the STATEFUL operator
    whose merge logic (adjacent-session coalescing as events arrive) is
    exactly what a batch engine never exercises. The oracle computes
    the same sessions from the parquet table via the lag-gap
    formulation (``operators/events._SESSION_CTE``); equality proves
    the streaming state machine converges to the batch definition:
    session start = first event, membership = gap ≤ 30 min, exact
    DECIMAL value sums.

    ``complete`` output mode for the same bounded-replay reason as
    :func:`stream_hourly_rollup` — tail sessions inside the watermark
    would be withheld forever under ``append`` (the existing
    batch/stream agreement test shows exactly that). Production runs
    ``append`` into a keyed sink; the memory sink is the harness."""
    return run_to_memory(session_stream(_landing_stream(spark, sf_dir)), "complete")


def stream_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query #3 for the streaming layer: the JSONL
    landing-directory stream driven through the watermarked
    STREAM-STREAM JOIN (``conversion_stream`` — purchases attributed to
    the same user's clicks in the preceding hour), aggregated per user
    and hash-verified against the identical batch join from the parquet
    table. Stream-stream join is the one streaming operator whose state
    lives on BOTH sides; this gate proves the match set is exactly the
    batch join's.

    Replay-safe watermark: the JSONL mirror's part files are row-
    partitioned, NOT time-ordered, so after the first micro-batch the
    event-time watermark would sit near corpus end and a production
    10-minute delay would evict click state and drop late-file matches
    nondeterministically. The harness passes a watermark wider than the
    corpus span (state is never evicted, every match is found — which
    is WHY equality with the batch join is provable); a real landing
    tier is approximately time-ordered and runs the tight watermark,
    trading completeness on extreme stragglers for bounded state.
    Inner-join matches emit immediately, so ``append`` mode has no
    bounded-replay withholding problem (unlike the aggregation gates).
    """
    joined = conversion_stream(
        _landing_stream(spark, sf_dir), watermark="90 days"
    ).select("user_id", "click_id", "purchase_id", "value")
    # ^ stateless projection after the stateful join: the memory sink
    # holds only the columns the accounting reads (the two timestamps
    # exist to express the join condition, not the result).
    return (
        run_to_memory(joined)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct("click_id").alias("n_clicks_converted"),
            F.count_distinct("purchase_id").alias("n_purchases_attributed"),
            ex.dsum("value").alias("attributed_value"),
        )
    )


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query #5 for the streaming layer (round 9): the
    JSONL landing-directory stream driven through the CUSTOM STATEFUL
    operator (``user_totals_stream`` — ``applyInPandasWithState``,
    user-keyed running totals in integer micro-units), with the FINAL
    snapshot per user extracted from the update-mode emissions and
    hash-verified against the identical batch aggregate from the
    parquet table. This gates the one streaming surface the other four
    gates don't touch: arbitrary user state in the state store, updated
    by Python against Arrow batches.

    Determinism: n_events is strictly increasing per user across
    emissions (the operator only fires for keys with new rows), so the
    struct-max picks the final snapshot; the state itself is an
    order-free integer sum, so micro-batch boundaries change WHICH
    intermediate snapshots exist, never the final one."""
    totals = user_totals_stream(_landing_stream(spark, sf_dir))
    return (
        run_to_memory(totals, "update")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_value").alias("total_value"),
        )
    )


def stream_user_totals_evict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query #6 for the streaming layer (round 10): the
    JSONL landing stream driven through the EVICTION profile of the
    custom stateful operator (``user_totals_evict_stream`` —
    ``EventTimeTimeout`` + watermark: idle users finalize ONCE and
    their state is removed), with the emitted per-incarnation partials
    re-aggregated per user and hash-verified against the batch
    aggregate from the parquet table. This closes the one streaming
    semantics class the other five gates leave untested: state-store
    EVICTION driven by the event-time watermark.

    Bounded-replay discipline: a bounded replay's final watermark stops
    at max(ts) − delay, so users idle less than the gap at corpus end
    would hold state forever (the append-mode analogue of the
    complete-mode pitfall the window gates document). The harness
    therefore APPENDS two sentinel landing files (user −1, event time
    far past every real timeout) after the corpus drains: the first
    advances the watermark beyond every possible timeout, the second
    triggers the batch in which those timeouts FIRE — exactly how a
    production landing tier keeps watermarks moving (heartbeat
    records). Every real user is then evicted and every partial
    emitted, so the gate is deterministic under any micro-batch split;
    the sentinel user is excluded on both sides. The landing files are
    hard-linked into a gate-private directory so the sentinels never
    pollute the shared JSONL mirror the other five gates read."""
    import json as _json

    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.sources.text_formats import (
        _ensure_written,
    )

    mirror = _ensure_written(spark, sf_dir, "jsonl")
    landing = tempfile.mkdtemp(prefix="evict_gate_")
    try:
        for fn in os.listdir(mirror):
            if fn.endswith(".json"):
                src = os.path.join(mirror, fn)
                dst = os.path.join(landing, fn)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy(src, dst)
        max_ts = load_table(spark, sf_dir, "events").agg(
            F.max(F.col("ts").cast("long")).alias("m")
        ).first().m  # epoch seconds
        sentinel_us = (max_ts + 1) * 1_000_000 + (
            EVICT_GAP_MS + 30 * 24 * 3600 * 1000
        ) * 1000

        def _sentinel(seq: int) -> None:
            row = {
                "event_id": -seq,
                "ts_us": sentinel_us + seq * 3_600_000_000,
                "user_id": -1,
                "event_type": "heartbeat",
                "value": 0.0,
                "props": "{}",
            }
            tmp = os.path.join(landing, f".zz_sentinel{seq}.json.tmp")
            with open(tmp, "w") as fh:
                fh.write(_json.dumps(row) + "\n")
            os.rename(tmp, os.path.join(landing, f"zz_sentinel{seq}.json"))

        # the first sentinel advances the watermark past every timeout,
        # the second triggers the batch where the timeouts fire
        out = run_to_memory(
            user_totals_evict_stream(read_event_stream_jsonl(spark, landing)),
            then=(partial(_sentinel, 1), partial(_sentinel, 2)),
        )
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    return (
        out.where(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("micro").alias("ms"),
        )
        .select(
            "user_id",
            "n_events",
            (
                F.floor(F.col("ms") / F.lit(10000.0) + F.lit(0.5)).cast("long")
                / F.lit(100.0)
            ).alias("total_value"),
        )
    )


# Per-type enrichment weights for the stream-static gate: exactly
# dyadic doubles, so value·weight is the same IEEE product in both
# engines; unknown types fall through to 1.0.
ENRICH_WEIGHTS: dict[str, float] = {
    "click": 0.5,
    "view": 0.25,
    "purchase": 4.0,
    "signup": 2.0,
    "error": 0.0,
}


def _enrich_weight_case() -> F.Column:
    expr = F.lit(1.0)
    for t, w in reversed(list(ENRICH_WEIGHTS.items())):
        expr = F.when(F.col("event_type") == t, F.lit(w)).otherwise(expr)
    return expr


def _enrich_weight_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{t}' THEN {w}" for t, w in ENRICH_WEIGHTS.items()
    )
    return f"CASE event_type {whens} ELSE 1.0 END"


def stream_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query #7 for the streaming layer: the JSONL landing
    stream driven through the STREAM-STATIC JOIN (``enriched_stream`` —
    each event enriched against a per-type weight dimension planned per
    micro-batch), aggregated per type and hash-verified against the
    identical weighted aggregate from the parquet table. This gates the
    one streaming join class the other six gates don't touch: a
    STATELESS broadcast join against batch reference data — no state
    store, no watermark semantics, but its own failure mode (the static
    side re-plans every micro-batch; a non-deterministic dimension
    would silently produce batch-dependent enrichment, which hash
    equality with the one-shot batch computation rules out).

    The dimension derives from the same corpus (distinct types × a
    CASE of dyadic literal weights), so DuckDB replays it exactly;
    ``append`` mode has no withholding problem (stateless projection —
    rows emit in the micro-batch that reads them)."""
    from automotive_big_data_analysis_spark.catalog import load_table

    dim = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .select("event_type", _enrich_weight_case().alias("weight"))
    )
    enriched = enriched_stream(_landing_stream(spark, sf_dir), dim)
    return (
        run_to_memory(enriched)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            ex.dsum("weighted_value", 6).alias("total_weighted"),
        )
    )


def _session_oracle_sql() -> str:
    from automotive_big_data_analysis_spark.operators.events import (
        _SESSION_CTE,
    )

    return (
        _SESSION_CTE
        + f"""
        SELECT user_id, MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               {ex.dsum_sql("value")} AS session_value
        FROM numbered GROUP BY user_id, session_seq
    """
    )


ORACLE: dict[str, str] = {
    # identical rollup from the PARQUET events table — the stream must
    # reproduce it exactly (same grouping, same exact-decimal sum)
    "stream_hourly_rollup": f"""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events,
               {ex.dsum_sql("value")} AS total_value
        FROM events GROUP BY 1, 2
    """,
    "stream_user_sessions": _session_oracle_sql(),
    # identical per-user totals from the parquet table, replaying the
    # operator's integer micro-unit arithmetic exactly: each value
    # quantizes via the shared floor tree, the sum is an order-free
    # BIGINT, and the final quantize mirrors the operator's emit
    "stream_user_totals": """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(FLOOR(SUM(CAST(FLOOR(COALESCE(value, 0) * 1000000
                                         + 0.5) AS BIGINT))
                          / 10000.0 + 0.5) AS BIGINT) / 100.0
                   AS total_value
        FROM events GROUP BY user_id
    """,
    # the eviction profile must reassemble to the same per-user totals:
    # each state incarnation emits one integer-micro partial at its
    # event-time timeout, and the partial sums are order-free — so the
    # re-aggregated stream output equals the batch aggregate exactly
    "stream_user_totals_evict": """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(FLOOR(SUM(CAST(FLOOR(COALESCE(value, 0) * 1000000
                                         + 0.5) AS BIGINT))
                          / 10000.0 + 0.5) AS BIGINT) / 100.0
                   AS total_value
        FROM events GROUP BY user_id
    """,
    # identical click→purchase attribution join from the parquet table
    "stream_conversions": f"""
        WITH clicks AS (
            SELECT user_id, ts AS click_ts, event_id AS click_id
            FROM events WHERE event_type = 'click'
        ), purch AS (
            SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
                   value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT c.user_id, COUNT(*) AS n_pairs,
               COUNT(DISTINCT c.click_id) AS n_clicks_converted,
               COUNT(DISTINCT p.purchase_id) AS n_purchases_attributed,
               {ex.dsum_sql("p.value")} AS attributed_value
        FROM clicks c JOIN purch p
          ON p.user_id = c.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL '{CONVERSION_HORIZON}'
        GROUP BY c.user_id
    """,
}

# stream-static enrichment: the identical weighted aggregate from the
# parquet table (the CASE dimension is replayed inline; COUNT DISTINCT
# users proves row identity, not just sums)
ORACLE["stream_enriched_events"] = f"""
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {ex.dsum_sql(f"value * ({_enrich_weight_case_sql()})", 6)}
               AS total_weighted
    FROM events GROUP BY event_type
"""

QUERIES = {
    "stream_hourly_rollup": stream_hourly_rollup,
    "stream_user_sessions": stream_user_sessions,
    "stream_conversions": stream_conversions,
    "stream_user_totals": stream_user_totals,
    "stream_user_totals_evict": stream_user_totals_evict,
    "stream_enriched_events": stream_enriched_events,
}
