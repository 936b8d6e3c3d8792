"""Streaming pipelines driven to completion over a bounded file source;
results must agree with the batch operators on the same data."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.operators import events as batch_ev
from automotive_big_data_analysis_spark.streaming import events_stream as st

T0 = datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream"))
    rows = []
    eid = 0
    for user in (1, 2, 3):
        for burst in range(3):  # 3 sessions per user, 2h apart
            for i in range(4):
                eid += 1
                rows.append(
                    (
                        eid,
                        T0 + timedelta(hours=2 * burst, minutes=5 * i + user),
                        user,
                        "click" if i % 2 == 0 else "view",
                        float(i),
                        '{"k": %d}' % i,
                    )
                )
    df = spark.createDataFrame(rows, schema=st.EVENT_SCHEMA)
    # several files → several micro-batches through maxFilesPerTrigger
    df.repartition(4).write.mode("overwrite").parquet(f"{path}/events.parquet")
    return path


def test_streaming_hourly_matches_batch(spark, stream_dir):
    stream = st.read_event_stream(spark, f"{stream_dir}/events.parquet")
    got = st.run_to_memory(st.hourly_rollup_stream(stream))
    batch = batch_ev.hourly_rollup(spark, stream_dir)
    got_set = {
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in got.collect()
    }
    batch_set = {
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in batch.collect()
    }
    # append mode only emits windows closed by the watermark; all emitted
    # rows must match batch exactly, and most windows should have closed
    assert got_set <= batch_set
    assert len(got_set) >= len(batch_set) - 4


def test_streaming_sessions_match_batch(spark, stream_dir):
    stream = st.read_event_stream(spark, f"{stream_dir}/events.parquet")
    got = st.run_to_memory(st.session_stream(stream))
    batch = batch_ev.sessionize(spark, stream_dir)
    got_set = {
        (r.user_id, r.session_start, r.n_events) for r in got.collect()
    }
    batch_set = {
        (r.user_id, r.session_start, r.n_events) for r in batch.collect()
    }
    assert got_set <= batch_set
    assert len(got_set) >= len(batch_set) - 3  # last open sessions unflushed


def test_stream_over_naive_parquet_matches_load_table(spark, tmp_path):
    """A stream over a raw naive-timestamp file (the corpus ``events``
    layout) normalizes ``ts`` exactly as ``load_table`` does: same type,
    same epoch values. A TIMESTAMP(NANOS) file fails loudly instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from automotive_big_data_analysis_spark.catalog import load_table

    us = [1_704_067_207_123_456, 1_704_070_800_000_001]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(us, pa.timestamp("us")),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": ["click", "view"],
        "value": [1.0, 2.0],
        "props": ["{}", "{}"],
    }
    pq.write_table(pa.table(cols), tmp_path / "events.parquet")
    stream = st.read_event_stream(spark, str(tmp_path / "events.parquet"))
    got = st.run_to_memory(stream)
    batch = load_table(spark, str(tmp_path), "events")
    assert got.schema["ts"].dataType == batch.schema["ts"].dataType

    def epochs(df):
        return sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())

    assert epochs(got) == epochs(batch) == us

    nanos = tmp_path / "nanos"
    nanos.mkdir()
    cols["ts"] = pa.array([v * 1000 for v in us], pa.timestamp("ns"))
    pq.write_table(pa.table(cols), nanos / "events.parquet")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        load_table(spark, str(nanos), "events")


def test_streaming_anomalies_match_batch(spark, tmp_path_factory):
    """Streaming detector vs batch detector against the SAME batch-trained
    baseline: a planted hourly spike must be flagged identically."""
    from automotive_big_data_analysis_spark.operators import analytics as an

    path = str(tmp_path_factory.mktemp("anomstream"))
    rows = []
    eid = 0
    for h in range(24):  # 23 quiet hours (2 events), one spike hour (40)
        for i in range(40 if h == 7 else 2):
            eid += 1
            rows.append(
                (eid, T0 + timedelta(hours=h, seconds=i), 1, "view", 0.0, "{}")
            )
    spark.createDataFrame(rows, schema=st.EVENT_SCHEMA).repartition(4).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")
    moments = an.hourly_moments(spark, path)
    stream = st.read_event_stream(spark, f"{path}/events.parquet")
    got = st.run_to_memory(st.anomaly_stream(stream, moments))
    got_set = {(r.event_type, r.hour, r.n, r.z) for r in got.collect()}
    batch_set = {
        (r.event_type, r.hour, r.n, r.z)
        for r in an.hourly_anomalies(spark, path).collect()
    }
    # every emitted flag matches batch exactly, and the spike (well before
    # the watermark frontier) MUST have been emitted
    assert got_set == batch_set
    assert any(r[2] == 40 for r in got_set)


def test_stateful_user_totals_match_batch(spark, stream_dir):
    """applyInPandasWithState running totals: the last emitted snapshot
    per user equals the batch aggregate, under any micro-batch split."""
    from pyspark.sql import functions as F

    stream = st.read_event_stream(spark, f"{stream_dir}/events.parquet")
    got = st.run_to_memory(st.user_totals_stream(stream), "update")
    final = {}
    for r in got.collect():  # later snapshots have strictly larger n_events
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.total_value)
    # mirror the operator's exact integer micro-unit arithmetic (an
    # order-free sum — which is what makes the final state identical
    # under any micro-batch split)
    micro = F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 1e6 + 0.5)
    batch = (
        spark.read.parquet(f"{stream_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (F.floor(F.sum(micro) / 10000.0 + 0.5) / 100.0).alias("tv"),
        )
    )
    expected = {r.user_id: (r.n, r.tv) for r in batch.collect()}
    assert final == expected


def test_stateful_eviction_finalizes_and_reincarnates(spark, tmp_path_factory):
    """EventTimeTimeout eviction semantics (round 10): a user idle past
    EVICT_GAP_MS is emitted ONCE and its state removed — proven by the
    user re-appearing later and emitting a SECOND, independent partial
    (two rows for one user is only possible if remove() really dropped
    the first incarnation). The per-user SUM of partials must equal the
    batch micro-unit aggregate — the order-free-partials invariant the
    gate query relies on."""
    import json
    import os
    from functools import partial

    landing = str(tmp_path_factory.mktemp("evict_landing"))
    epoch = int(T0.timestamp())

    def write(name, rows):
        with open(os.path.join(landing, name), "w") as fh:
            for eid, ts_off_s, uid, val in rows:
                fh.write(
                    json.dumps(
                        {
                            "event_id": eid,
                            "ts_us": (epoch + ts_off_s) * 1_000_000,
                            "user_id": uid,
                            "event_type": "view",
                            "value": val,
                            "props": "{}",
                        }
                    )
                    + "\n"
                )

    DAY = 24 * 3600
    # file A: user 1 at T0; user 2 at T0 and T0+1h
    write("a.json", [(1, 0, 1, 1.5), (2, 0, 2, 0.25), (3, 3600, 2, 0.5)])
    # heartbeats: the first advances max event time, the second's batch
    # runs with the advanced watermark -> timeouts FIRE (the watermark
    # used by a batch comes from the PRIOR batch); then user 1 returns
    # 20 days in as a NEW state incarnation and two more heartbeats
    # evict it again
    got = st.run_to_memory(
        st.user_totals_evict_stream(st.read_event_stream_jsonl(spark, landing)),
        then=[
            partial(write, "b1.json", [(90, 10 * DAY, -1, 0.0)]),
            partial(write, "b2.json", [(91, 10 * DAY + 3600, -1, 0.0)]),
            partial(write, "c.json", [(4, 20 * DAY, 1, 2.25)]),
            partial(write, "d1.json", [(92, 40 * DAY, -1, 0.0)]),
            partial(write, "d2.json", [(93, 40 * DAY + 3600, -1, 0.0)]),
        ],
    )
    rows = got.where(F.col("user_id") >= 0).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.n_events, r.micro))
    # user 1: TWO partials (idle 20 days > 7-day gap -> evicted, then
    # re-incarnated and evicted again); user 2: one final partial
    assert sorted(by_user[1]) == [(1, 1_500_000), (1, 2_250_000)]
    assert by_user[2] == [(2, 750_000)]
    # partial sums reassemble to the batch totals exactly
    assert sum(m for _, m in by_user[1]) == 3_750_000


def test_stream_static_join_matches_batch(spark, stream_dir):
    dim = spark.createDataFrame(
        [("click", 2.0), ("view", 0.5)], "event_type string, weight double"
    )
    stream = st.read_event_stream(spark, f"{stream_dir}/events.parquet")
    got = st.run_to_memory(st.enriched_stream(stream, dim))
    rows = got.collect()
    assert len(rows) == 36  # every event enriched, none dropped
    for r in rows:
        expected = r.value * (2.0 if r.event_type == "click" else 0.5)
        assert r.weighted_value == expected


def test_stream_enriched_events_gate_matches_batch(spark):
    """The registered stream-static gate must reproduce the batch
    weighted aggregate from the parquet table: same per-type row
    counts, and the weighted total recomputable from the batch side."""
    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.functions import exact as ex

    sf = "/root/testdata/sf0.001"
    got = {
        r.event_type: (r.n_events, r.n_users, r.total_weighted)
        for r in st.stream_enriched_events(spark, sf).collect()
    }
    batch = {
        r.event_type: (r.n_events, r.n_users, r.total_weighted)
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            ex.dsum(
                F.col("value") * st._enrich_weight_case(), 6
            ).alias("total_weighted"),
        )
        .collect()
    }
    assert got == batch
    # every corpus type carries an explicit (non-fallback) weight
    assert set(got) <= set(st.ENRICH_WEIGHTS)


def test_stream_stream_join_matches_batch(spark, tmp_path_factory):
    """Watermarked stream-stream conversion join must emit exactly the
    pairs the equivalent batch join produces on the same bounded data."""
    path = str(tmp_path_factory.mktemp("conv"))
    rows = []
    # user 1: click at t+0, purchases at t+30m (in) and t+90m (out of horizon)
    rows.append((1, T0, 1, "click", 0.0, "{}"))
    rows.append((2, T0 + timedelta(minutes=30), 1, "purchase", 10.0, "{}"))
    rows.append((3, T0 + timedelta(minutes=90), 1, "purchase", 20.0, "{}"))
    # user 2: purchase BEFORE any click → unattributed
    rows.append((4, T0, 2, "purchase", 5.0, "{}"))
    rows.append((5, T0 + timedelta(minutes=10), 2, "click", 0.0, "{}"))
    # late padding so the watermark passes all real events
    rows.append((6, T0 + timedelta(hours=6), 3, "view", 0.0, "{}"))
    df = spark.createDataFrame(rows, schema=st.EVENT_SCHEMA)
    df.repartition(3).write.mode("overwrite").parquet(f"{path}/events.parquet")

    stream = st.read_event_stream(spark, f"{path}/events.parquet")
    got = st.run_to_memory(st.conversion_stream(stream))
    got_pairs = {(r.click_id, r.purchase_id) for r in got.collect()}
    assert got_pairs == {(1, 2)}

    # batch equivalence: identical expressions over the static frame
    static = spark.read.schema(st.EVENT_SCHEMA).parquet(f"{path}/events.parquet")
    clicks = static.where("event_type = 'click'").selectExpr(
        "user_id", "ts AS click_ts", "event_id AS click_id"
    )
    purchases = static.where("event_type = 'purchase'").selectExpr(
        "user_id AS p_user_id", "ts AS purchase_ts", "event_id AS purchase_id"
    )
    batch_pairs = {
        (r.click_id, r.purchase_id)
        for r in clicks.join(
            purchases,
            (clicks.user_id == purchases.p_user_id)
            & (purchases.purchase_ts >= clicks.click_ts)
            & (purchases.purchase_ts <= clicks.click_ts + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got_pairs == batch_pairs


# --- streaming curation (documents) -----------------------------------------

from automotive_big_data_analysis_spark.functions import text as tx
from automotive_big_data_analysis_spark.streaming import documents_stream as ds

GOOD = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)


@pytest.fixture(scope="module")
def doc_stream_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("doc_stream"))
    rows = [
        # hour 0: a good doc, its tag-wrapped duplicate, and a lowq doc
        (0, T0, GOOD, "en", "srcA"),
        (1, T0 + timedelta(minutes=5), f"<p>{GOOD}</p>", "en", "srcA"),
        (2, T0 + timedelta(minutes=10), "spam spam", "en", "srcB"),
        # hour 1: a distinct good doc and ANOTHER duplicate of doc 0
        (3, T0 + timedelta(hours=1), GOOD.replace("theta", "other"), "de", "srcB"),
        (4, T0 + timedelta(hours=1, minutes=5), GOOD, "en", "srcC"),
        # far-future padding so the watermark closes all real windows
        (5, T0 + timedelta(hours=12), GOOD.replace("alpha", "omega"), "en", "srcC"),
    ]
    df = spark.createDataFrame(rows, schema=ds.DOCUMENT_SCHEMA)
    df.repartition(3).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    return path


def test_streaming_curation_dedups_and_gates(spark, doc_stream_dir):
    """Clean+quality+exact-dedup on the stream: the lowq doc is gated, the
    tag-wrapped and late duplicates are dropped (first arrival wins), and
    cleaning strips the markup before hashing — survivor counts equal the
    batch pipeline's distinct-clean-text count among quality passers."""
    stream = ds.read_document_stream(spark, f"{doc_stream_dir}/documents.parquet")
    got = st.run_to_memory(ds.curated_stream(stream))
    kept = got.collect()
    hashes = [r.content_hash for r in kept]
    assert len(hashes) == len(set(hashes))  # no duplicate content survived
    # batch expectation on the same data, same expressions
    from automotive_big_data_analysis_spark.functions import text as tx

    static = spark.read.schema(ds.DOCUMENT_SCHEMA).parquet(
        f"{doc_stream_dir}/documents.parquet"
    )
    batch = (
        static.withColumn("clean_text", tx.clean_text("text"))
        .withColumn("quality", tx.quality_score("clean_text"))
        .where(F.col("quality") >= tx.QUALITY_MIN)
        .select(F.md5("clean_text").alias("h"))
        .distinct()
    )
    assert len(kept) == batch.count()
    # the lowq doc is gone; exactly one survivor carries GOOD's content
    assert 2 not in {r.doc_id for r in kept}
    good_hash_rows = [r for r in kept if r.clean_text == GOOD]
    assert len(good_hash_rows) == 1


def test_streaming_curation_counters_match_batch(spark, doc_stream_dir):
    """Windowed per-lang survivor counters agree with the batch
    aggregation over the curated survivors (append mode emits only
    watermark-closed windows; every emitted row must match batch)."""
    stream = ds.read_document_stream(spark, f"{doc_stream_dir}/documents.parquet")
    got = st.run_to_memory(ds.curation_counters_stream(stream))
    got_set = {(r.window_start, r.lang, r.n_kept) for r in got.collect()}
    # survivors of hour 0: doc 0 (en); hour 1: docs 3 (de) — doc 4 deduped
    assert (T0, "en", 1) in got_set
    assert (T0 + timedelta(hours=1), "de", 1) in got_set
    assert all(n == 1 for _, _, n in got_set)


def test_streaming_curated_partitioned_sink(spark, doc_stream_dir, tmp_path):
    """foreachBatch sink: the curated stream lands as lang-partitioned
    parquet with exactly the batch-curated survivor set."""
    stream = ds.read_document_stream(spark, f"{doc_stream_dir}/documents.parquet")
    out = str(tmp_path / "curated_out")
    q = ds.write_curated_stream(
        stream, out, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    written = spark.read.parquet(out)
    assert "lang" in written.columns  # partition column round-trips
    import os

    assert any(d.startswith("lang=") for d in os.listdir(out))
    hashes = [r.content_hash for r in written.collect()]
    assert len(hashes) == len(set(hashes))
    static = spark.read.schema(ds.DOCUMENT_SCHEMA).parquet(
        f"{doc_stream_dir}/documents.parquet"
    )
    batch_n = (
        static.withColumn("clean_text", tx.clean_text("text"))
        .withColumn("quality", tx.quality_score("clean_text"))
        .where(F.col("quality") >= tx.QUALITY_MIN)
        .select(F.md5("clean_text"))
        .distinct()
        .count()
    )
    assert written.count() == batch_n


def test_streaming_jsonl_ingest_matches_batch(spark, stream_dir):
    """The JSONL landing-directory stream must produce the same hourly
    rollup as the batch pipeline over the parquet table — source format
    and execution mode are both transparent to the operator."""
    from automotive_big_data_analysis_spark.sources import text_formats as tf

    path = tf._ensure_written(spark, stream_dir, "jsonl")
    stream = st.read_event_stream_jsonl(spark, path)
    got = st.run_to_memory(st.hourly_rollup_stream(stream))
    batch = batch_ev.hourly_rollup(spark, stream_dir)
    got_set = {
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in got.collect()
    }
    batch_set = {
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got_set <= batch_set
    assert len(got_set) >= len(batch_set) - 4


def test_stream_hourly_rollup_driver_gate_matches_batch(spark):
    """The driver-gated streaming query (JSONL landing stream -> complete
    -mode rollup) must reproduce the batch rollup from the parquet table
    exactly — the same agreement the DuckDB gate checks."""
    from automotive_big_data_analysis_spark.operators import events as ev
    from automotive_big_data_analysis_spark.streaming import events_stream as es

    sf = "/root/testdata/sf0.001"
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in es.stream_hourly_rollup(spark, sf).collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in ev.hourly_rollup(spark, sf).collect()
    }
    assert got == want


def _replay_leftovers(spark) -> tuple[set[str], set[str], list]:
    """What a bounded replay could leave behind: checkpoint dirs on the
    scratch root, temp views, active streaming queries."""
    import os
    import tempfile

    root = st._STREAM_SCRATCH_ROOT or tempfile.gettempdir()
    ckpts = {d for d in os.listdir(root) if d.startswith("abda_stream_ckpt_")}
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    return ckpts, views, spark.streams.active


def test_stream_scratch_checkpoint_used_and_cleaned(spark):
    """Every registered stream gate checkpoints on the fast scratch root
    (on a disk-backed /tmp every batch's offset-WAL, commit and state
    writes pay a disk fsync) and leaves nothing behind: no checkpoint
    dir (a leaked dir per invocation would accumulate in tmpfs forever),
    no sink view, no running query."""
    from tests.conftest import SF_SMOKE

    gates = {**st.QUERIES, **ds.QUERIES}
    assert len(gates) == 7
    before = _replay_leftovers(spark)
    assert before[2] == []
    for name, gate in gates.items():
        assert gate(spark, SF_SMOKE).count() > 0, name
        assert _replay_leftovers(spark) == before, name


def test_run_to_memory_cleans_up_after_a_failed_batch(spark, stream_dir):
    """A batch that raises propagates out of ``run_to_memory`` and still
    leaves no checkpoint, no sink view and no running query behind."""
    from pyspark.errors import StreamingQueryException

    before = _replay_leftovers(spark)
    stream = st.read_event_stream(spark, f"{stream_dir}/events.parquet")
    failing = stream.select(
        F.coalesce(F.raise_error(F.lit("planted batch failure")), "value")
    )
    with pytest.raises(StreamingQueryException, match="planted batch failure"):
        st.run_to_memory(failing)
    assert _replay_leftovers(spark) == before


def test_stream_gates_keep_instants_in_a_repeated_dst_hour(spark, tmp_path):
    """The window and session gates return each instant unchanged when
    the driver process runs in a zone with a repeated hour: on
    2024-11-03 America/New_York repeats 01:00-02:00, i.e. 05:00-07:00
    UTC. Rows that go through Python as naive local datetimes come back
    from the 06:00Z hour one hour early (``time.mktime`` picks the first
    occurrence); rows kept in the JVM do not move."""
    import os
    import time
    from datetime import timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime(2024, 11, 3, 5, 0, tzinfo=timezone.utc)
    # user 1: 05:10-06:10Z, one session; user 2 starts inside 06:00Z
    planted = [(1, 10), (1, 30), (1, 50), (1, 70), (2, 90), (2, 110)]
    us = [
        int((base + timedelta(minutes=m)).timestamp()) * 1_000_000
        for _, m in planted
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(1, 7), pa.int64()),
                "ts": pa.array(us, pa.timestamp("us")),
                "user_id": pa.array([u for u, _ in planted], pa.int64()),
                "event_type": ["view"] * 6,
                "value": [1.0] * 6,
                "props": ["{}"] * 6,
            }
        ),
        tmp_path / "events.parquet",
    )
    hour = 3_600_000_000
    prev_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        rollup = st.stream_hourly_rollup(spark, str(tmp_path))
        sessions = st.stream_user_sessions(spark, str(tmp_path))
        got_rollup = {
            (r.w, r.n_events)
            for r in rollup.select(
                F.unix_micros("window_start").alias("w"), "n_events"
            ).collect()
        }
        got_sessions = {
            (r.user_id, r.s, r.n_events)
            for r in sessions.select(
                "user_id", F.unix_micros("session_start").alias("s"), "n_events"
            ).collect()
        }
    finally:
        if prev_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev_tz
        time.tzset()
    assert got_rollup == {(us[0] - us[0] % hour, 3), (us[3] - us[3] % hour, 3)}
    assert got_sessions == {(1, us[0], 4), (2, us[4], 2)}


def test_stream_user_sessions_driver_gate_matches_batch(spark):
    """The second driver-gated streaming query (JSONL landing stream ->
    complete-mode session_window) must reproduce the batch lag-gap
    sessionization exactly — start, membership, and exact value sums."""
    from automotive_big_data_analysis_spark.operators import events as ev
    from automotive_big_data_analysis_spark.streaming import events_stream as es

    sf = "/root/testdata/sf0.001"
    got = {
        (r.user_id, r.session_start): (r.n_events, r.session_value)
        for r in es.stream_user_sessions(spark, sf).collect()
    }
    want = {
        (r.user_id, r.session_start): (r.n_events, r.session_value)
        for r in ev.sessionize(spark, sf).collect()
    }
    assert got == want


def test_stream_curated_documents_gate_dedups_planted(spark, tmp_path_factory):
    """The driver-gate streaming curation over a planted corpus: exact
    duplicates collapse to one survivor per (lang, cleaned text) key,
    low-quality docs are gated out, and doc_id 0 (event time at the
    synthetic-epoch boundary) is NOT lost as late data."""
    good = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "runs back home to rest for a while with the other animals there"
    )
    low = "x"  # below every quality heuristic
    path = str(tmp_path_factory.mktemp("curated_gate"))
    rows = [
        (0, good, "en", "s", len(good)),      # doc_id 0: boundary case
        (1, good, "en", "s", len(good)),      # exact dup of 0
        (2, good + " extra tail words here again", "en", "s", 0),
        (3, low, "en", "s", 1),               # quality-gated out
        (4, good, "de", "s", len(good)),      # same text, other lang
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    got = {
        r.lang: r for r in ds.stream_curated_documents(spark, path).collect()
    }
    # en: docs 0+1 collapse to one key, doc 2 is distinct, doc 3 gated
    assert got["en"].n_kept == 2
    # the same text in another lang is its own key (per-lang dedup)
    assert got["de"].n_kept == 1


def test_stream_conversions_driver_gate_matches_batch(spark):
    """The stream-stream join gate must reproduce the batch attribution
    join from the parquet table exactly (same pairs, same exact sums)."""
    from pyspark.sql import functions as F

    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.functions import exact as ex
    from automotive_big_data_analysis_spark.streaming import events_stream as es

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (
            r.n_pairs,
            r.n_clicks_converted,
            r.n_purchases_attributed,
            r.attributed_value,
        )
        for r in es.stream_conversions(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    batch = (
        clicks.join(
            purch,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("click_id").alias("n_clicks"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            ex.dsum("value").alias("val"),
        )
    )
    want = {
        r.user_id: (r.n_pairs, r.n_clicks, r.n_purchases, r.val)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0
