"""Event-time operators over the ``events`` table.

The reference has no streaming/event-time surface (SURVEY §2.9) — its only
time dimensions are an INT year and date-string map keys. These operators
extend the engine with the batch time-window family (tumbling, sliding,
session) plus the JSON-props analogs of the reference's map-column
operators (A1/A2: explode + per-key aggregation). The same logic is exposed
over Structured Streaming in ``streaming/``.

All outputs are deterministic: window starts come from epoch arithmetic,
sessions are keyed by (user, session start), floats are rounded in-query,
and every multi-row SUM/AVG over the double ``value`` column accumulates
in DECIMAL(25,10) (``functions/exact.py``) so results are independent of
partition merge order — the round-3 gate caught ``events_sessionize``
flipping a ``.xx5`` rounding boundary between runs under plain double
summation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table
from automotive_big_data_analysis_spark.functions import exact as ex

SESSION_GAP_MINUTES = 30


def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type: count, sum, avg.

    Uses Spark's native ``window()`` (struct start/end), projecting the
    start — at scale this is a plain hash aggregation on (hour, type); no
    sort, map-side combine applies."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            ex.dsum("value").alias("total_value"),
            ex.davg("value").alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
    )


def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide) per event type. Each
    event lands in exactly 2 windows; Spark's ``window()`` expands them
    natively (a generator, not a join)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min inactivity) per user, batch-side:
    ``lag`` marks session breaks, a running sum numbers sessions — the
    standard composition (SURVEY §2.9 extension; also the batch oracle for
    the streaming ``session_window`` variant).

    Scale: both windows partition by ``user_id`` (high cardinality) — the
    whole operator is one shuffle on user_id, sessions never cross
    partitions."""
    # project before windowing: the per-user sort shuffles and sorts every
    # column it carries — (user, id, ts, value) is all this operator needs,
    # never the props JSON payload
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap at full microsecond precision (matches the oracle's EPOCH_US):
    # whole-second casts would declare a 1800.4 s gap "1800" and disagree
    # with any fractional-second engine on the boundary
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(
        order_w
    )
    is_break = F.when(
        gap.isNull() | (gap > SESSION_GAP_MINUTES * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    numbered = ev.withColumn("_brk", is_break).withColumn(
        "session_seq",
        F.sum("_brk").over(order_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            ex.dsum("value").alias("session_value"),
        )
    )


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native ``session_window`` (batch mode): per (user, session)
    event counts with the session's start timestamp. Semantically equal to
    ``sessionize`` on start/count; the window end differs (last ts + gap)
    so only start/count are emitted for oracle comparison."""
    ev = load_table(spark, sf_dir, "events")
    return (
        # project before windowing: session_window sorts each user's rows,
        # so the sort should carry (ts, user_id) only — never full events
        ev.select("ts", "user_id")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def props_key_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference op A1 analog (map explode + per-key aggregation) over the
    JSON ``props`` column: parse to MAP<STRING,BIGINT>, explode, aggregate
    per key. ``from_json`` + ``explode`` run map-side; the shuffle carries
    |keys| × partitions partial aggregates."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias("key", "val")
    )
    return parsed.groupBy("key").agg(
        F.count("*").alias("n_events"),
        F.sum("val").cast("long").alias("total"),
        F.round(F.avg("val"), 6).alias("avg_val"),
    )


def props_value_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference op F6 analog (typed map access): extract ``props.k`` and
    aggregate per event type. ``from_json`` to a typed map + ``element_at``
    parses each row once JVM-side; ``get_json_object`` (used through round
    3) walked the JSON text per extraction and benched ~10× slower."""
    ev = load_table(spark, sf_dir, "events")
    k = F.element_at(F.from_json("props", "map<string,bigint>"), "k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("total_k"),
            F.count(F.col("k")).alias("n_with_k"),
        )
    )


FUNNEL_STEPS = ["view", "click", "purchase"]


def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per stage,
    how many users reached it and the mean lag from the previous stage.
    A user reaches stage k at the EARLIEST event of that type that is
    strictly after their stage-(k−1) time — the standard funnel
    definition (later steps must follow earlier ones in event time).

    Scale shape: one pass per stage, each a per-user min aggregate
    (map-side partial combine) joined to the previous stage's per-user
    times on ``user_id`` — co-partitioned joins on the same key, so AQE
    reuses the exchange; no windows over the raw event stream and
    nothing user-quadratic. Output is |stages| rows.

    Determinism: timestamps compare at full µs precision; lags aggregate
    as whole seconds (integer math — exact in doubles), averaged and
    rounded identically on both engines; users with no qualifying event
    simply drop out of later stages on both engines."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", "event_type", "ts")

    def stage_times(step: str, prev: DataFrame | None) -> DataFrame:
        step_ev = base.where(F.col("event_type") == step)
        if prev is None:
            return step_ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        return (
            step_ev.join(prev.select("user_id", F.col("t").alias("pt")), "user_id")
            .where(F.col("ts") > F.col("pt"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"), F.min("pt").alias("pt"))
        )

    out = None
    prev = None
    for step in FUNNEL_STEPS:
        cur = stage_times(step, prev)
        lag_s = (
            F.col("t").cast("long") - F.col("pt").cast("long")
            if prev is not None
            else F.lit(None).cast("long")
        )
        row = cur.select(lag_s.alias("lag_s")).agg(
            F.lit(step).alias("stage"),
            F.count("*").alias("n_users"),
            F.round(F.avg("lag_s"), 6).alias("avg_lag_s"),
        )
        out = row if out is None else out.unionByName(row)
        prev = cur
    return out


def event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ops A4+A5 analog: per-type event value and its share of
    the total (shares sum to 1.0); window over the tiny aggregate only."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(F.sum(ex.dec("value")).alias("v"))
    total = Window.partitionBy()
    return per_type.select(
        "event_type",
        F.round(F.col("v").cast("double"), 2).alias("total_value"),
        F.round(
            F.col("v").cast("double") / F.sum("v").over(total).cast("double"), 6
        ).alias("share"),
    )


def top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ops R2+R4 analog: 10 most active users (count desc,
    user_id tie-break) — TakeOrdered, no global sort."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), ex.dsum("value").alias("total_value"))
        .orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(10)
    )


_SESSION_CTE = f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w)
                            > {SESSION_GAP_MINUTES * 60 * 1_000_000}
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT *, SUM(brk) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_seq
        FROM ordered
    )
"""

def rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup: minute → hour → day, each level
    re-aggregating the PREVIOUS level's partials — the continuous-
    aggregate / hypertable-rollup pattern. At 100 TB the raw events are
    scanned exactly once (for the minute tier); the hour tier
    aggregates minute rows (~1/60th the volume) and the day tier hour
    rows, so refreshing coarse tiers never re-touches the fact table.

    Correctness of the pattern rests on partial-aggregate composition:
    counts add, and the value sums are carried UNROUNDED as
    DECIMAL(25,10) partials through every tier (rounding a tier would
    destroy associativity), surfacing as a double only at presentation.
    The oracle computes the day tier DIRECTLY from raw events — hash
    equality proves the three-level re-aggregation is lossless, which
    is the invariant that lets an engine answer day-grain queries from
    the rollup instead of the fact table."""
    ev = load_table(spark, sf_dir, "events")
    minute = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count("*").alias("n"), F.sum(ex.dec("value")).alias("sv")
    )
    hour = minute.groupBy(F.date_trunc("hour", "minute").alias("hour")).agg(
        F.sum("n").alias("n"),
        F.sum("sv").alias("sv"),
        F.count("*").alias("n_minutes"),
    )
    return hour.groupBy(F.date_trunc("day", "hour").alias("day")).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.round(F.sum("sv").cast("double"), 6).alias("total_value"),
        F.sum("n_minutes").cast("long").alias("n_minutes"),
        F.count("*").cast("long").alias("n_hours"),
    )


HLL_TOL = 0.05  # 3σ of the datasketches HLL default (lgK=12, rse≈1.6%)


def hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-DISTINCT continuous aggregate via MERGEABLE sketches: the
    hour tier stores one HLL sketch of the hour's users
    (``hll_sketch_agg`` — Apache DataSketches), and the day tier
    answers "distinct users per day" by MERGING hour sketches
    (``hll_union_agg``) — never re-touching the fact table. This is the
    piece :func:`rollup_hierarchy` cannot express with its additive
    partials: distinct counts don't add across tiers, but sketch unions
    compose exactly like the DECIMAL partials do.

    Verification follows the ``approx_part_stats`` tolerance-oracle
    precedent: sketch bytes are engine-specific, so the query emits the
    EXACT per-day distinct count (the anchor, computed here only to
    score the sketch — at 100 TB one runs the sketch side alone) plus a
    boolean holding the merged estimate within ``HLL_TOL``. The
    estimate itself is deterministic (register maxes are order- and
    partition-invariant, verified), but only the boolean + anchors are
    cross-engine comparable. Exact event counts ride the tiers as
    additive partials, proving the same carry the hierarchy query pins."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n"),
    )
    daily = hourly.groupBy(F.date_trunc("day", "hour").alias("day")).agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("n").cast("long").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    exact = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        daily.join(exact, "day")
        .select(
            "day",
            "n_hours",
            "n_events",
            "exact_users",
            # the tolerance bound rides along as a cross-engine-comparable
            # column (round-10 ADVICE): an out-of-tolerance day is then
            # attributable from the oracle diff — the boolean flips while
            # the bound column still matches, isolating the sketch rather
            # than surfacing as an opaque engine mismatch
            F.ceil(F.col("exact_users") * F.lit(HLL_TOL))
            .cast("long")
            .alias("tol_bound"),
            (
                F.abs(F.col("_est") - F.col("exact_users"))
                <= F.ceil(F.col("exact_users") * F.lit(HLL_TOL))
            ).alias("est_within_tol"),
        )
        .orderBy("day")
    )


ORACLE: dict[str, str] = {
    "events_hll_user_rollup": f"""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(DISTINCT date_trunc('hour', ts)) AS n_hours,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS exact_users,
               CAST(CEIL(COUNT(DISTINCT user_id) * {HLL_TOL}) AS BIGINT)
                   AS tol_bound,
               TRUE AS est_within_tol
        FROM events GROUP BY 1 ORDER BY day
    """,
    "events_hourly_rollup": f"""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events,
               {ex.dsum_sql("value")} AS total_value,
               {ex.davg_sql("value")} AS avg_value
        FROM events GROUP BY 1, 2
    """,
    # each event belongs to the two 30-min-aligned windows covering it;
    # FLOOR(EPOCH(..)) truncates fractional seconds (a bare ::BIGINT cast
    # would round and shift boundary events into the wrong window)
    "events_sliding_counts": """
        WITH sec AS (
            SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es, event_type FROM events
        )
        SELECT to_timestamp(es - ((es - k.k * 1800) % 3600))::TIMESTAMP
                   AS window_start,
               event_type, COUNT(*) AS n_events
        FROM sec CROSS JOIN (VALUES (0), (1)) AS k(k)
        GROUP BY 1, 2
    """,
    # session_seq MUST be cast: DuckDB types the windowed SUM(brk) HUGEINT,
    # which fetchdf() converts to float64 ("11.0") while Spark emits bigint
    # ("11") — the driver hashes the rendered values, so the un-cast column
    # hash-mismatched every round (r1-r4) despite identical row counts
    "events_sessionize": _SESSION_CTE
    + f"""
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               {ex.dsum_sql("value")} AS session_value
        FROM numbered GROUP BY user_id, session_seq
    """,
    "events_session_window": _SESSION_CTE
    + """
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, session_seq
    """,
    "events_props_key_rollup": """
        SELECT k.key, COUNT(*) AS n_events,
               CAST(SUM(CAST(props->>k.key AS BIGINT)) AS BIGINT) AS total,
               ROUND(AVG(CAST(props->>k.key AS BIGINT)), 6) AS avg_val
        FROM events, UNNEST(json_keys(props)) AS k(key)
        GROUP BY k.key
    """,
    "events_props_value_per_type": """
        SELECT event_type,
               CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS total_k,
               COUNT(CAST(props->>'k' AS BIGINT)) AS n_with_k
        FROM events GROUP BY event_type
    """,
    "events_type_share": f"""
        WITH per_type AS (
            SELECT event_type, SUM(CAST(value AS {ex.SQL_DEC})) AS v
            FROM events GROUP BY event_type
        )
        SELECT event_type,
               ROUND(CAST(v AS DOUBLE), 2) AS total_value,
               ROUND(CAST(v AS DOUBLE) / CAST(SUM(v) OVER () AS DOUBLE), 6)
                   AS share
        FROM per_type
    """,
    "events_top_users": f"""
        SELECT user_id, COUNT(*) AS n_events,
               {ex.dsum_sql("value")} AS total_value
        FROM events GROUP BY user_id
        ORDER BY n_events DESC, user_id LIMIT 10
    """,
}

# Funnel note: timestamps compare at native precision on both engines —
# the corpus is µs-aligned (verified: epoch_ns % 1000 == 0 for every
# event), so Spark's µs timestamps and DuckDB's ns reads order
# identically. Lags aggregate as whole seconds (bigint), averaged in
# double (integer sums are exact), rounded identically.
ORACLE["events_funnel"] = """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t, MIN(s1.t) AS pt
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t, MIN(s2.t) AS pt
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t
        GROUP BY e.user_id
    )
    SELECT 'view' AS stage, COUNT(*) AS n_users,
           ROUND(AVG(CAST(NULL AS BIGINT)), 6) AS avg_lag_s FROM s1
    UNION ALL
    SELECT 'click', COUNT(*),
           ROUND(AVG(CAST(FLOOR(EPOCH(t)) AS BIGINT)
                     - CAST(FLOOR(EPOCH(pt)) AS BIGINT)), 6) FROM s2
    UNION ALL
    SELECT 'purchase', COUNT(*),
           ROUND(AVG(CAST(FLOOR(EPOCH(t)) AS BIGINT)
                     - CAST(FLOOR(EPOCH(pt)) AS BIGINT)), 6) FROM s3
"""

QUERIES = {
    "events_hourly_rollup": hourly_rollup,
    "events_sliding_counts": sliding_window_counts,
    "events_sessionize": sessionize,
    "events_session_window": session_window_stats,
    "events_props_key_rollup": props_key_rollup,
    "events_props_value_per_type": props_value_per_type,
    "events_type_share": event_type_share,
    "events_top_users": top_users,
    "events_funnel": funnel,
    "events_rollup_hierarchy": rollup_hierarchy,
    "events_hll_user_rollup": hll_user_rollup,
}

ORACLE["events_rollup_hierarchy"] = f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           {ex.dsum_sql("value", 6)} AS total_value,
           COUNT(DISTINCT date_trunc('minute', ts)) AS n_minutes,
           COUNT(DISTINCT date_trunc('hour', ts)) AS n_hours
    FROM events GROUP BY 1
"""
