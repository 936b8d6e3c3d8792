"""Cohort / anomaly / segmentation analytics over events, orders, and
documents.

Training-data-pipeline + product-analytics extension (no reference
analog — the reference's aggregation surface stops at per-year rollups,
SURVEY §2.4): weekly cohort retention, hourly anomaly detection (batch
detector; the streaming twin lives in ``streaming/events_stream.py``),
RFM customer segmentation, a percentile-based document length gate, a
cross-modal quality/embedding-norm correlation audit, a per-user
event-type Markov transition matrix, and a per-label embedding outlier
screen. Everything is built-in expressions; each oracle mirrors the
exact arithmetic (explicit variance/correlation formulas over exact
moment sums, epoch-integer week buckets, NTILE with total-order
tiebreaks, exact-ratio probabilities) so doubles are bit-identical
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table
from automotive_big_data_analysis_spark.functions import exact as ex
from automotive_big_data_analysis_spark.functions import hashing
from automotive_big_data_analysis_spark.functions import ranking as rk
from automotive_big_data_analysis_spark.functions import text as tx
from automotive_big_data_analysis_spark.functions import vectors as V

_US_PER_DAY = 86_400 * 1_000_000


def _week(col):
    """Deterministic week bucket: floor(days-since-epoch / 7) computed on
    integer microseconds — identical on any engine, no calendar/locale
    week-numbering semantics involved."""
    return (F.unix_micros(col) / F.lit(_US_PER_DAY)).cast("long") / F.lit(7)


def user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week;
    for each (cohort_week, week_offset), how many cohort members were
    active and what share of the cohort that is.

    Scale shape: one pass computes per-(user, week) activity (map-side
    combine collapses events to user-weeks before the exchange), the
    per-user min-week aggregate derives cohorts from that SAME user-keyed
    exchange (AQE reuses it), and the final rollup is |cohorts × offsets|
    rows. The cohort-size join attaches to the tiny cohort dimension —
    broadcast. Nothing scales with raw events past the first partial
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    user_weeks = (
        ev.select("user_id", _week(F.col("ts")).cast("long").alias("week"))
        .groupBy("user_id", "week")
        .agg(F.count("*").alias("n_events"))
    )
    cohorts = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cohort_sizes = cohorts.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
    )


ANOMALY_Z = 2.0


def hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hour, n): the per-type hourly counts — map-side
    collapse of the raw events."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))


def hourly_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_hours, sum_n, sum_n2): exact integer moments of the
    per-type hourly count distribution — the BASELINE the anomaly check
    derives mean/var/z from. Trained batch-side (here, or on history in
    production) and broadcast wherever it is consumed, including the
    streaming detector (``streaming.events_stream.anomaly_stream``)."""
    return hourly_counts(spark, sf_dir).groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("n").cast("long").alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_n2"),
    )


def anomaly_condition():
    """(mean, z, filter) column expressions over (n, n_hours, sum_n,
    sum_n2) — shared by the batch and streaming detectors so both flag
    identical hours."""
    mean = F.col("sum_n") / F.col("n_hours")
    var = (
        F.col("sum_n2") - F.col("sum_n") * F.col("sum_n") / F.col("n_hours")
    ) / (F.col("n_hours") - 1)
    z = (F.col("n") - mean) / F.sqrt(var)
    cond = (F.col("n_hours") > 1) & (F.abs(z) > ANOMALY_Z)
    return mean, z, cond


def hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose per-type event count is an outlier (|z| > 2) against
    that type's hourly distribution, plus the per-type baseline stats.

    The z-score arithmetic is written out explicitly from exact integer
    sums (n_hours, Σn, Σn² are bigint on both engines; mean/var/z derive
    from them with an identical expression tree) instead of calling each
    engine's stddev — built-in variance implementations differ in
    summation order, and a last-ulp difference at the |z| = 2 boundary
    would flip membership between engines.

    Scale shape: events collapse map-side to (type, hour) counts; the
    per-type moment aggregate is |types| rows, broadcast back; output is
    outlier hours only."""
    hourly = hourly_counts(spark, sf_dir)
    moments = hourly_moments(spark, sf_dir)
    mean, z, cond = anomaly_condition()
    return (
        hourly.join(F.broadcast(moments), "event_type")
        .where(cond)
        .select(
            "event_type",
            "hour",
            "n",
            F.round(mean, 6).alias("mean_n"),
            F.round(z, 6).alias("z"),
        )
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile customers by Recency (days
    since last order, against the corpus max date), Frequency (order
    count), and Monetary (total spend), then report each (r, f, m)
    segment's size and average spend.

    Determinism: every quartile orders by (metric, custkey) — a total
    order, so quartile boundaries can't depend on partition layout; both
    engines fill remainder rows into the leading buckets identically.
    Monetary sums accumulate in DECIMAL(25,10).

    Scale shape: one orders scan → per-customer aggregate (map-side
    combine), staged once (three consumers); each quartile is the
    two-pass range-bucket global rank (``functions/ranking.py`` — the
    ``pack_token_shards`` primitive generalized to arbitrary sort
    metrics), so NO unpartitioned window ever sees the per-customer
    relation — at 100 TB that relation is itself fact-scale and the
    naive global NTILE (kept as the oracle formulation) would funnel it
    through one task. Parallelism per quartile pass is the range-bucket
    fan-out; plan-asserted in ``tests/test_plans.py``."""
    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("maxd"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(ex.dec("o_totalprice")).alias("monetary_dec"),
        )
        .join(F.broadcast(maxd))
        .select(
            "o_custkey",
            "frequency",
            "monetary_dec",
            (
                (
                    F.unix_micros(F.col("maxd").cast("timestamp"))
                    - F.unix_micros(F.col("last_order").cast("timestamp"))
                )
                / F.lit(_US_PER_DAY)
            ).cast("long").alias("recency_days"),
        )
    )
    # the rank pass stages the per-customer aggregate once internally
    # (with_global_ntiles stage_input=True) — no caller-side checkpoint
    key = F.col("o_custkey")
    # DESC metrics rank by the negated column (decimal/long negation is
    # exact). All three quartiles come from ONE multi-metric rank pass
    # (shared boundary-sampling aggregate, one frame, three
    # bucket-partitioned rank windows) — M independent passes would
    # re-scan and re-join the staged table per metric.
    quart = rk.with_global_ntiles(
        per_cust,
        4,
        {
            "r_quartile": F.col("recency_days"),
            "f_quartile": -F.col("frequency"),
            "m_quartile": -F.col("monetary_dec"),
        },
        key,
    )
    return (
        quart.groupBy("r_quartile", "f_quartile", "m_quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                (
                    F.sum("monetary_dec") / F.count("*")
                ).cast("double"),
                6,
            ).alias("avg_monetary"),
        )
    )


GATE_LO = 0.05
GATE_HI = 0.95


def doc_length_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile document-length gate — the curation stage that drops
    each language's extreme-length tails (truncated fragments, runaway
    concatenations) before training: per lang, the exact P5/P95 char
    bounds and how many documents survive the [P5, P95] gate.

    Scale shape: the bounds aggregate is |langs| rows (exact interpolated
    percentile needs a per-lang sort at scale — production swaps in
    percentile_approx, cf. ``approx_part_stats``'s tolerance gating);
    the re-scan joins against the broadcast bounds, so the gate itself
    is one filter pass with no wide shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    bounds = docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(GATE_LO)).alias("lo"),
        F.percentile("n_chars", F.lit(GATE_HI)).alias("hi"),
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("n_chars").between(F.col("lo"), F.col("hi")), 1
                ).otherwise(0)
            ).cast("long").alias("n_kept"),
            F.round(F.first("lo"), 6).alias("p05_chars"),
            F.round(F.first("hi"), 6).alias("p95_chars"),
        )
    )


def embedding_quality_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal audit: per embedding label, the Pearson correlation
    between a document's heuristic quality score and its embedding's L2
    norm (documents ⋈ embeddings on doc_id = vec_id) — the sanity check
    a pipeline runs before filtering one modality on the other's signal.

    Determinism: both inputs are deterministic doubles (quality rounds
    to 2 decimals; the norm — IEEE-exact sqrt of an ascending-index
    dot fold — rounds to 6 before use); per-row products are identical
    doubles; all five moment sums accumulate in DECIMAL(25,10)
    (order-free); the closed-form correlation then derives from the
    decimal-cast moments with one shared expression tree. Zero-variance
    groups yield NULL via the same NULLIF on both engines.

    Scale shape: the join co-partitions two corpus-sized tables on their
    shared key (sort-merge at scale, no broadcast); moments aggregate
    with map-side combine to |labels| rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.quality_score("text").alias("q")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        "label",
        F.round(V.norm(V.as_double("embedding")), 6).alias("nrm"),
    )
    m = (
        docs.join(emb, "doc_id")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ex.dec("q")).alias("sx"),
            F.sum(ex.dec("nrm")).alias("sy"),
            F.sum(ex.dec(F.col("q") * F.col("q"))).alias("sxx"),
            F.sum(ex.dec(F.col("nrm") * F.col("nrm"))).alias("syy"),
            F.sum(ex.dec(F.col("q") * F.col("nrm"))).alias("sxy"),
        )
    )
    n = F.col("n_docs")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    denom = F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return m.select(
        "label",
        "n_docs",
        F.round((n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0)), 6).alias(
            "corr_quality_norm"
        ),
        F.round(sx / n, 6).alias("avg_quality"),
        F.round(sy / n, 6).alias("avg_norm"),
    )


_WEEK_SQL = "CAST(FLOOR(EPOCH_US(ts) / 86400000000) AS BIGINT) // 7"

ORACLE: dict[str, str] = {
    "events_user_retention": f"""
        WITH uw AS (
            SELECT user_id, {_WEEK_SQL} AS week, COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        ), cohorts AS (
            SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
        ), sizes AS (
            SELECT cohort_week, COUNT(*) AS cohort_size
            FROM cohorts GROUP BY cohort_week
        )
        SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
               COUNT(*) AS n_active, ANY_VALUE(s.cohort_size) AS cohort_size,
               ROUND(COUNT(*) / CAST(ANY_VALUE(s.cohort_size) AS DOUBLE), 6)
                   AS retention
        FROM uw JOIN cohorts c ON uw.user_id = c.user_id
        JOIN sizes s ON s.cohort_week = c.cohort_week
        GROUP BY 1, 2
    """,
    "events_hourly_anomalies": f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), moments AS (
            SELECT event_type, COUNT(*) AS n_hours,
                   CAST(SUM(n) AS BIGINT) AS sum_n,
                   CAST(SUM(n * n) AS BIGINT) AS sum_n2
            FROM hourly GROUP BY event_type
        )
        SELECT h.event_type, h.hour, h.n,
               ROUND(sum_n / CAST(n_hours AS DOUBLE), 6) AS mean_n,
               ROUND((h.n - sum_n / CAST(n_hours AS DOUBLE))
                     / sqrt((sum_n2 - sum_n * sum_n
                             / CAST(n_hours AS DOUBLE))
                            / CAST(n_hours - 1 AS DOUBLE)), 6) AS z
        FROM hourly h JOIN moments m ON h.event_type = m.event_type
        WHERE n_hours > 1
          AND ABS((h.n - sum_n / CAST(n_hours AS DOUBLE))
                  / sqrt((sum_n2 - sum_n * sum_n
                          / CAST(n_hours AS DOUBLE))
                         / CAST(n_hours - 1 AS DOUBLE))) > {ANOMALY_Z}
    """,
    "orders_rfm_segments": f"""
        WITH maxd AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
        per_cust AS (
            SELECT o_custkey,
                   CAST(FLOOR((EPOCH_US(maxd.maxd)
                               - EPOCH_US(MAX(o_orderdate)))
                              / 86400000000.0) AS BIGINT) AS recency_days,
                   COUNT(*) AS frequency,
                   SUM(CAST(o_totalprice AS {ex.SQL_DEC})) AS monetary_dec
            FROM orders CROSS JOIN maxd
            GROUP BY o_custkey, maxd.maxd
        ), q AS (
            SELECT o_custkey, monetary_dec,
                   CAST(NTILE(4) OVER (
                       ORDER BY recency_days ASC, o_custkey) AS INTEGER)
                       AS r_quartile,
                   CAST(NTILE(4) OVER (
                       ORDER BY frequency DESC, o_custkey) AS INTEGER)
                       AS f_quartile,
                   CAST(NTILE(4) OVER (
                       ORDER BY monetary_dec DESC, o_custkey) AS INTEGER)
                       AS m_quartile
            FROM per_cust
        )
        SELECT r_quartile, f_quartile, m_quartile,
               COUNT(*) AS n_customers,
               ROUND(CAST(SUM(monetary_dec) AS DOUBLE) / COUNT(*), 6)
                   AS avg_monetary
        FROM q GROUP BY 1, 2, 3
    """,
    "docs_length_gate": f"""
        WITH bounds AS (
            SELECT lang,
                   quantile_cont(n_chars, {GATE_LO}) AS lo,
                   quantile_cont(n_chars, {GATE_HI}) AS hi
            FROM documents GROUP BY lang
        )
        SELECT d.lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               ROUND(ANY_VALUE(b.lo), 6) AS p05_chars,
               ROUND(ANY_VALUE(b.hi), 6) AS p95_chars
        FROM documents d JOIN bounds b ON d.lang = b.lang
        GROUP BY d.lang
    """,
}

def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix: counts and exact transition
    probabilities for each (previous type → next type) pair — the
    behavioral-model summary downstream sequence models train against.

    Scale shape: one shuffle on ``user_id`` for the per-user ordering
    (same single-exchange shape as ``events.sessionize``; only
    (user, ts, id, type) is carried), a |types|²-row aggregate with
    map-side combine, and a window over that tiny aggregate for the
    row-normalization. Probabilities are single IEEE divisions of exact
    integer counts — identical on both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    pairs = ev.select(
        prev.alias("prev_type"), F.col("event_type").alias("next_type")
    ).where(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n")
    )
    row_tot = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(row_tot), 6).alias("p"),
    )


OUTLIER_TOP_K = 5


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the ``OUTLIER_TOP_K`` vectors
    farthest (squared L2) from their own label's centroid — the
    mislabeled-example screen a curation pipeline runs on labeled
    embedding data.

    Determinism: centroids are per-dimension DECIMAL-exact means
    (``vectors.mean_vector``) repacked into ordered arrays;
    distances are the codegen'd ascending-index fold; ties break on
    vec_id. Scale shape: the centroid table is |labels| × dim —
    broadcast; scoring is one map-side pass; the top-k window partitions
    by label over (label, vec_id, d2) triples only."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", V.as_double("embedding").alias("v")
    )
    centroids = V.mean_vector(
        emb.select("label", F.col("v").alias("cv")), ["label"], "cv"
    )
    scored = emb.join(F.broadcast(centroids), "label").select(
        "label",
        "vec_id",
        F.round(V.sq_dist_unrolled("v", "cv"), 6).alias("d2"),
    )
    w = Window.partitionBy("label").orderBy(F.col("d2").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= OUTLIER_TOP_K)
        .select("label", "rank", "vec_id", "d2")
    )


def quality_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact least-squares fit of quality_score ~ token
    count — training a (one-feature) linear quality model distributed,
    via the closed-form normal equations. This is the cheap, fully
    auditable version of the quality-classifier step every curation
    pipeline runs: the slope says whether the heuristic score is just a
    length proxy in that language (a strong positive slope means a
    length filter would capture most of the signal; a flat slope means
    the score carries independent information), and r² quantifies it.

    Determinism: x is an integer token count, y the 2-decimal quality
    score; the five moment sums accumulate in DECIMAL(25,10)
    (order-free, engine-exact); slope/intercept/r² derive from the
    double-cast moments through one shared expression tree (identical
    IEEE operations on identical operands), zero-variance languages →
    NULL via the same NULLIF.

    Scale shape: one corpus scan, map-side partial aggregation to
    |langs| moment rows — the same single-pass sufficient-statistics
    trick that trains any GLM-by-IRLS step at 100 TB. Nothing iterative,
    nothing leaves the JVM."""
    docs = load_table(spark, sf_dir, "documents")
    xy = docs.select(
        "lang",
        tx.token_count("text").cast("long").alias("x"),
        tx.quality_score("text").alias("y"),
    )
    m = xy.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(ex.dec("x")).alias("sx"),
        F.sum(ex.dec("y")).alias("sy"),
        F.sum(ex.dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(ex.dec(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(ex.dec(F.col("x") * F.col("y"))).alias("sxy"),
    )
    n = F.col("n_docs")
    d = m.select(
        "lang",
        "n_docs",
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("syy").cast("double").alias("syy"),
        F.col("sxy").cast("double").alias("sxy"),
    )
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    s = d.withColumn("slope", cov_n / F.nullif(var_x, F.lit(0.0)))
    return s.select(
        "lang",
        "n_docs",
        F.round("slope", 9).alias("slope"),
        F.round(
            (F.col("sy") - F.col("slope") * F.col("sx")) / n, 6
        ).alias("intercept"),
        F.round(
            cov_n * cov_n / F.nullif(var_x * var_y, F.lit(0.0)), 6
        ).alias("r2"),
    )


def _corr_sql() -> str:
    dsx, dsy = "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)"
    dsxx, dsyy = "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)"
    return rf"""
        WITH q AS (
            SELECT doc_id, {tx.quality_score_sql("text")} AS q
            FROM documents
        ), e AS (
            SELECT vec_id AS doc_id, label, ROUND({V.norm_sql("v")}, 6) AS nrm
            FROM (
                SELECT vec_id, label, {V.as_double_sql("embedding")} AS v
                FROM embeddings
            )
        ), m AS (
            SELECT label, COUNT(*) AS n_docs,
                   SUM(CAST(q AS {ex.SQL_DEC})) AS sx,
                   SUM(CAST(nrm AS {ex.SQL_DEC})) AS sy,
                   SUM(CAST(q * q AS {ex.SQL_DEC})) AS sxx,
                   SUM(CAST(nrm * nrm AS {ex.SQL_DEC})) AS syy,
                   SUM(CAST(q * nrm AS {ex.SQL_DEC})) AS sxy
            FROM q JOIN e USING (doc_id) GROUP BY label
        )
        SELECT label, n_docs,
               ROUND((n_docs * CAST(sxy AS DOUBLE) - {dsx} * {dsy})
                     / NULLIF(sqrt((n_docs * {dsxx} - {dsx} * {dsx})
                                   * (n_docs * {dsyy} - {dsy} * {dsy})),
                              0.0), 6) AS corr_quality_norm,
               ROUND({dsx} / n_docs, 6) AS avg_quality,
               ROUND({dsy} / n_docs, 6) AS avg_norm
        FROM m
    """


ORACLE["docs_embedding_quality_corr"] = _corr_sql()

ORACLE["events_markov_transitions"] = """
    WITH ordered AS (
        SELECT event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ), counts AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE),
                 6) AS p
    FROM counts
"""


def _outliers_sql() -> str:
    return f"""
    WITH e AS (
        SELECT vec_id, label, {V.as_double_sql("embedding")} AS v
        FROM embeddings
    ), c AS ({V.mean_vector_sql("e", ["label"], "v")}
    ), scored AS (
        SELECT e.label, e.vec_id,
               ROUND({V.sq_dist_sql("e.v", "c.v")}, 6) AS d2
        FROM e JOIN c ON e.label = c.label
    ), ranked AS (
        SELECT label, vec_id, d2,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY label ORDER BY d2 DESC, vec_id
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT label, rank, vec_id, d2 FROM ranked WHERE rank <= {OUTLIER_TOP_K}
"""


ORACLE["embedding_outlier_scores"] = _outliers_sql()


CMS_DEPTH = 4  # hash rows
CMS_WIDTH = 256  # counters per row
TOP_USERS_K = 10


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters, scored against exact truth — the
    fixed-memory frequency sketch a 100 TB pipeline uses when per-key
    exact counting would shuffle billions of distinct keys (hot-user /
    hot-document detection, skew probes feeding the salting decision).

    Build: every event increments CMS_DEPTH counters (one md5-addressed
    cell per hash row) — relationally, a (d, bucket) aggregation bounded
    by DEPTH×WIDTH rows regardless of stream size, with map-side partial
    combine. Probe: the true top-K users (computed exactly here, to
    score the sketch) read their DEPTH cells back from the broadcast
    sketch; the estimate is the row-wise MIN. CMS errs only UPWARD
    (collisions add, never subtract) so ``est_n ≥ true_n`` always —
    ``overestimate`` is the collision noise at this DEPTH×WIDTH, the
    number that sizes the sketch for a target accuracy (ε ≈ e/WIDTH of
    the stream length, with probability 1−e^−DEPTH).

    Scale shape: sketch build is ONE fact scan aggregating to ≤1024
    (d, bucket) cells — the probe side explodes the K true-top users
    into K×DEPTH (d, bucket) keys, broadcasts them against the cells
    aggregate in a SINGLE join, and takes the per-user MIN of the
    matched counters (each probe key matches exactly one cell: the
    user's own events guarantee it exists). One join, not one per hash
    row, so the cells subtree — and with it the events scan — appears
    once in the plan. The exact top-K pass exists only to SCORE the
    sketch and rides the same per-key aggregation every groupBy pays."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    cells = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            hashing.bucket(
                                F.col("user_id"), CMS_WIDTH, f"cms{d}:"
                            ).alias("b"),
                        )
                        for d in range(CMS_DEPTH)
                    ]
                )
            ).alias("c")
        )
        .groupBy(F.col("c.d").alias("d"), F.col("c.b").alias("b"))
        .agg(F.count("*").alias("n"))
    )
    true_top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "user_id")
        .limit(TOP_USERS_K)
    )
    probe_keys = true_top.select(
        "user_id",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        hashing.bucket(
                            F.col("user_id"), CMS_WIDTH, f"cms{d}:"
                        ).alias("b"),
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("user_id", "true_n", F.col("p.d").alias("d"), F.col("p.b").alias("b"))
    matched = cells.join(F.broadcast(probe_keys), ["d", "b"])
    est = F.min("n")
    return (
        matched.groupBy("user_id", "true_n")
        .agg(est.alias("est_n"))
        .select(
            "user_id",
            "true_n",
            "est_n",
            (F.col("est_n") - F.col("true_n")).alias("overestimate"),
        )
    )


# One scan per hash row: DuckDB runs four narrow scans faster than one
# scan that builds a four-bucket list per event and unnests it.
_CMS_CELLS_SQL = " UNION ALL ".join(
    f"SELECT {d} AS d, {hashing.bucket_sql('user_id', CMS_WIDTH, f'cms{d}:')} AS b"
    " FROM events"
    for d in range(CMS_DEPTH)
)

ORACLE["events_heavy_hitters_cms"] = f"""
    WITH cellsrc AS (
        {_CMS_CELLS_SQL}
    ), cells AS (
        SELECT d, b, COUNT(*) AS n FROM cellsrc GROUP BY d, b
    ), top AS (
        SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id
        ORDER BY true_n DESC, user_id LIMIT {TOP_USERS_K}
    )
    SELECT t.user_id, t.true_n,
           LEAST({", ".join(f"c{d}.n" for d in range(CMS_DEPTH))}) AS est_n,
           LEAST({", ".join(f"c{d}.n" for d in range(CMS_DEPTH))}) - t.true_n
               AS overestimate
    FROM top t
    {" ".join(
        f"JOIN cells c{d} ON c{d}.d = {d} AND c{d}.b = "
        + hashing.bucket_sql("t.user_id", CMS_WIDTH, f"cms{d}:")
        for d in range(CMS_DEPTH)
    )}
"""


def _regression_sql() -> str:
    return f"""
        WITH xy AS (
            SELECT lang, CAST(len({tx.tokens_sql("text")}) AS BIGINT) AS x,
                   {tx.quality_score_sql("text")} AS y
            FROM documents
        ), m AS (
            SELECT lang, COUNT(*) AS n_docs,
                   SUM(CAST(x AS {ex.SQL_DEC})) AS sx,
                   SUM(CAST(y AS {ex.SQL_DEC})) AS sy,
                   SUM(CAST(x * x AS {ex.SQL_DEC})) AS sxx,
                   SUM(CAST(y * y AS {ex.SQL_DEC})) AS syy,
                   SUM(CAST(x * y AS {ex.SQL_DEC})) AS sxy
            FROM xy GROUP BY lang
        ), d AS (
            SELECT lang, n_docs,
                   CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
                   CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
                   CAST(sxy AS DOUBLE) AS sxy
            FROM m
        ), s AS (
            SELECT *,
                   (n_docs * sxy - sx * sy)
                       / NULLIF(n_docs * sxx - sx * sx, 0.0) AS slope
            FROM d
        )
        SELECT lang, n_docs,
               ROUND(slope, 9) AS slope,
               ROUND((sy - slope * sx) / n_docs, 6) AS intercept,
               ROUND((n_docs * sxy - sx * sy) * (n_docs * sxy - sx * sy)
                     / NULLIF((n_docs * sxx - sx * sx)
                              * (n_docs * syy - sy * sy), 0.0), 6) AS r2
        FROM s
    """


ORACLE["docs_quality_regression"] = _regression_sql()

QUERIES = {
    "events_user_retention": user_retention,
    "events_hourly_anomalies": hourly_anomalies,
    "orders_rfm_segments": rfm_segments,
    "docs_length_gate": doc_length_gate,
    "docs_embedding_quality_corr": embedding_quality_corr,
    "events_markov_transitions": markov_transitions,
    "embedding_outlier_scores": embedding_outliers,
    "docs_quality_regression": quality_regression,
    "events_heavy_hitters_cms": heavy_hitters_cms,
}
