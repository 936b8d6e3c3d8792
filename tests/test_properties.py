"""Property-based tests (hypothesis) for the exactness-critical kernels.

Each property batches many generated rows into ONE Spark job per
example (Spark jobs are too slow for per-row examples), with bounded
example counts. The properties pin the invariants the oracle-parity
discipline rests on:

- ``exact.money4`` equals true decimal arithmetic for any 2-decimal
  money values (the foundation of the Q6/Q8/Q11 scaled-integer sums);
- sessionization partitions events with the gap invariant (intra-session
  gaps ≤ 30 min, session starts follow a > 30 min silence) for ANY event
  layout;
- ``hashing.bucket`` is deterministic and in-range for any key.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from decimal import Decimal

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.functions import exact as ex
from automotive_big_data_analysis_spark.functions import hashing
from automotive_big_data_analysis_spark.operators import events as ev_ops

T0 = datetime(2024, 1, 1)

money = st.integers(min_value=0, max_value=10_000_000).map(
    lambda c: c / 100.0
)  # exact 2-decimal values as doubles
disc = st.integers(min_value=0, max_value=100).map(lambda c: c / 100.0)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(money, disc), min_size=1, max_size=200))
def test_money4_equals_decimal_arithmetic(spark, rows):
    """money4(price, discount) == price * (1 - discount) in TRUE decimal
    arithmetic at scale 4, for every 2-decimal input."""
    df = spark.createDataFrame(rows, "price double, disc double")
    got = df.select(
        ex.money4("price", "disc").alias("c4"), "price", "disc"
    ).collect()
    for r in got:
        expected = (
            Decimal(f"{r.price:.2f}") * (1 - Decimal(f"{r.disc:.2f}"))
        ).scaleb(4)
        assert r.c4 == int(expected), (r.price, r.disc, r.c4, expected)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            st.integers(min_value=0, max_value=400_000),  # offset seconds
        ),
        min_size=1,
        max_size=120,
        unique=True,
    )
)
def test_sessionize_gap_invariants(spark, tmp_path_factory, rows):
    """For ANY event layout: sessions partition a user's events exactly;
    consecutive sessions of one user are separated by > GAP; and each
    session's span only contains gaps <= GAP (verified via per-session
    bounds: a session's start must be > GAP after the previous session's
    end)."""
    path = str(tmp_path_factory.mktemp("prop_sess"))
    data = [
        (i, T0 + timedelta(seconds=off), user, "view", 0.0, "{}")
        for i, (user, off) in enumerate(sorted(set(rows)))
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")
    sess = ev_ops.sessionize(spark, path).collect()
    gap = ev_ops.SESSION_GAP_MINUTES * 60
    # partition: session event counts sum to the user's event total
    per_user_events: dict[int, int] = {}
    for _, (user, _) in enumerate(sorted(set(rows))):
        per_user_events[user] = per_user_events.get(user, 0) + 1
    per_user_sess: dict[int, int] = {}
    for s in sess:
        per_user_sess[s.user_id] = per_user_sess.get(s.user_id, 0) + s.n_events
    assert per_user_sess == per_user_events
    # ordering + separation: sessions are disjoint and > gap apart
    by_user: dict[int, list] = {}
    for s in sess:
        by_user.setdefault(s.user_id, []).append(s)
    for user, slist in by_user.items():
        slist.sort(key=lambda s: s.session_seq)
        for a, b in zip(slist, slist[1:]):
            assert b.session_seq == a.session_seq + 1
            silence = (b.session_start - a.session_end).total_seconds()
            assert silence > gap, (user, a.session_seq, silence)
        for s in slist:
            span = (s.session_end - s.session_start).total_seconds()
            # a session of n events has at most (n-1) gaps of <= gap secs
            assert span <= (s.n_events - 1) * gap


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=30), min_size=1, max_size=100))
def test_hash_bucket_deterministic_and_in_range(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = df.select(
        hashing.bucket(F.col("k"), 1000).alias("b1"),
        hashing.bucket(F.col("k"), 1000).alias("b2"),
    ).collect()
    for r in got:
        assert r.b1 == r.b2
        assert 0 <= r.b1 < 1000


@settings(max_examples=12, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(-1000, 1000)), min_size=1, max_size=40, unique=True
    ),
    n=st.integers(2, 10),
    n_buckets=st.integers(1, 6),
)
def test_global_ntile_matches_native_window(spark, rows, n, n_buckets):
    """The two-pass range-bucket rank must reproduce NTILE(n) OVER
    (ORDER BY metric, key) EXACTLY for any data (ties, remainders,
    N < n, negative metrics) and any bucket fan-out — the boundary
    sampler is a monotone coarsening, so bucket choice can never change
    a rank."""
    from pyspark.sql import Window

    from automotive_big_data_analysis_spark.functions import ranking as rk

    # duplicate-heavy metric: metric = value // 7 collapses runs of keys
    df = spark.createDataFrame(
        [(v[0], v[0] // 7) for v in rows], "key long, metric long"
    )
    got = {
        r.key: r.tile
        for r in rk.with_global_ntile(
            df, n, F.col("metric"), F.col("key"), "tile", n_buckets=n_buckets
        ).collect()
    }
    w = Window.orderBy("metric", "key")
    want = {
        r.key: r.tile
        for r in df.select("key", F.ntile(n).over(w).alias("tile")).collect()
    }
    assert got == want


def test_multi_metric_ntiles_match_native_windows(spark):
    """The shared-pass multi-metric variant must agree with independent
    native NTILE windows on every metric (including a constant metric —
    all ties — and a descending one via negation)."""
    from pyspark.sql import Window

    from automotive_big_data_analysis_spark.functions import ranking as rk

    rows = [(k, (k * 7919) % 13, 5) for k in range(37)]
    df = spark.createDataFrame(rows, "key long, a long, c long")
    got = {
        r.key: (r.t_a, r.t_neg, r.t_const)
        for r in rk.with_global_ntiles(
            df,
            4,
            {
                "t_a": F.col("a"),
                "t_neg": -F.col("a"),
                "t_const": F.col("c"),
            },
            F.col("key"),
            n_buckets=5,
        ).collect()
    }
    want = {
        r.key: (r.t_a, r.t_neg, r.t_const)
        for r in df.select(
            "key",
            F.ntile(4).over(Window.orderBy("a", "key")).alias("t_a"),
            F.ntile(4)
            .over(Window.orderBy(F.col("a").desc(), "key"))
            .alias("t_neg"),
            F.ntile(4).over(Window.orderBy("c", "key")).alias("t_const"),
        ).collect()
    }
    assert got == want


def test_global_ntile_grid_escalation_path(spark):
    """The adaptive two-tier boundary sampler: when the N-derived
    fan-out exceeds the default 128-point grid (shrunken
    TARGET_BUCKET_ROWS stands in for a >1.3G-row input), the
    exact-resolution second pass must run and ranks must STILL equal
    the native NTILE — escalation changes cost, never results."""
    from pyspark.sql import Window

    from automotive_big_data_analysis_spark.functions import ranking as rk

    df = spark.createDataFrame(
        [(k, (k * 7919) % 401) for k in range(500)], "key long, metric long"
    )
    orig = rk.TARGET_BUCKET_ROWS
    try:
        rk.TARGET_BUCKET_ROWS = 3  # forces fan_out=ceil(500/3)=167 > 128
        n, fan_out, bounds = rk._collect_bounds(
            df.withColumn("_sv_t", F.col("metric")), ["_sv_t"], None
        )
        assert fan_out == 167 and len(bounds["_sv_t"]) == 166
        got = {
            r.key: r.tile
            for r in rk.with_global_ntile(
                df, 7, F.col("metric"), F.col("key"), "tile"
            ).collect()
        }
    finally:
        rk.TARGET_BUCKET_ROWS = orig
    w = Window.orderBy("metric", "key")
    want = {
        r.key: r.tile
        for r in df.select("key", F.ntile(7).over(w).alias("tile")).collect()
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=0, max_value=4096),  # n source bytes
    st.integers(min_value=1, max_value=4096),  # m output samples
)
def test_resample_index_map_invariants(n, m):
    """The fake-codec resize's 1-D nearest-neighbor index map
    out[j] = buf[(j·n)//m] (multimodal.resize_images and its DuckDB
    hex-arithmetic mirror evaluate this identical integer expression):
    indices stay in-bounds, are monotone non-decreasing, start at the
    first sample, and the map is the identity when m == n."""
    idx = [(j * n) // m for j in range(m)]
    if n == 0:
        assert all(i == 0 for i in idx)  # guarded: empty buffers skip the map
        return
    assert all(0 <= i < n for i in idx)
    assert idx == sorted(idx)
    assert idx[0] == 0
    if m == n:
        assert idx == list(range(n))
    # downsampling never skips more than ceil(n/m) source positions
    step = -(-n // m)
    assert all(b - a <= step for a, b in zip(idx, idx[1:]))


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.binary(min_size=0, max_size=300),  # payload
            st.integers(min_value=16, max_value=495),  # width
            st.integers(min_value=16, max_value=495),  # height
        ),
        min_size=1,
        max_size=25,
    )
)
def test_resize_exec_matches_python_reference(spark, rows):
    """The Arrow mapInPandas resize executor equals a direct Python
    replay of the shared definition (dims, resample, integer stats) for
    ANY payload bytes and dims — the engine-independent contract the
    DuckDB oracle relies on."""
    import math

    from automotive_big_data_analysis_spark.operators import multimodal as mm

    data = [
        (i, "image", payload, (w, h, 16000, 1, "fake"))
        for i, (payload, w, h) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,format:string>",
    )
    got = {r.media_id: r for r in mm.resize_images(df, mm.RESIZE_MAX_SIDE, require_real_codec=False).collect()}
    for i, (payload, w, h) in enumerate(rows):
        n, mx = len(payload), max(w, h)
        if mx > mm.RESIZE_MAX_SIDE:
            tw, th = w * mm.RESIZE_MAX_SIDE // mx, h * mm.RESIZE_MAX_SIDE // mx
            m = tw * th
            out = bytes(payload[(j * n) // m] for j in range(m)) if n else b""
            resized = True
        else:
            tw, th, out, resized = w, h, payload, False
        r = got[i]
        assert (r.src_w, r.src_h, r.dst_w, r.dst_h, r.resized) == (w, h, tw, th, resized)
        assert bytes(r.payload) == out
        assert (r.n_out, r.px_sum) == (len(out), sum(out))
        expect_mean = (
            math.floor(sum(out) / len(out) * 1_000_000 + 0.5) / 1_000_000
            if out
            else 0.0
        )
        assert r.px_mean == expect_mean
