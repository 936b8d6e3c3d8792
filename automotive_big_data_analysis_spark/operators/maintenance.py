"""Lakehouse table maintenance: small-file compaction planning.

Training-data-pipeline extension (no reference analog): a 100 TB table
that ingests continuously degrades into thousands of small files —
every scan then pays per-file open/footer costs and loses split-level
parallelism. The standard fix is a periodic compaction job that bins
small files into target-sized outputs. This module materializes a
deliberately FRAGMENTED copy of ``events`` (one file per content-keyed
fragment — the shape a streaming ingest leaves behind), then plans the
compaction over the REAL file inventory (``input_file_name()``), binning
files into fixed-row-budget output groups.

The plan itself is deterministic because fragment membership is
content-keyed (md5 bucket of ``event_id``): the DuckDB oracle replays
per-fragment row counts and the identical greedy number-line binning
from the canonical parquet table, so hash-equality proves both that the
fragmented mirror lost no rows and that the planner arithmetic is
engine-reproducible.

Scale shape: the file inventory aggregation is one map-side-combined
count keyed on (file, fragment) — |files| result rows; the binning
window runs over that |files|-row AGGREGATE (the allowed unpartitioned
class — a real lake's file inventory is metadata-sized, and past ~10⁶
files the same two-pass bucket-prefix-sum used by
``training_prep.pack_token_shards`` applies verbatim). Nothing re-reads
row data after the one inventory scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table
from automotive_big_data_analysis_spark.functions import hashing
from automotive_big_data_analysis_spark.sources import stored

MAINT_LOCATION = "/tmp/abda_maintenance"
N_FRAGMENTS = 64  # small files the simulated ingest leaves behind
TARGET_ROWS = 2500  # compaction output budget (rows per output file)
FRAG_VERSION = 2  # bump when the fragment layout changes (v2: + ts_us)
DATE_VERSION = 1  # bump when the time-partitioned layout changes
US_PER_DAY = 86_400_000_000


def _frag_col():
    """Content-keyed fragment id — stable across engines and layouts."""
    return hashing.bucket(F.col("event_id").cast("string"), N_FRAGMENTS)


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mirrored events columns, ``ts`` as epoch microseconds."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def ensure_fragmented(spark: SparkSession, sf_dir: str) -> str:
    """Write the fragmented events mirror once per corpus snapshot
    (:func:`stored.mirror`).

    Layout: ``frag=K`` directory partitions, ONE file each — the
    repartition keys every fragment to a single task, and a task writes
    one file per directory partition it holds."""

    def write(path: str) -> None:
        (
            _events_us(spark, sf_dir)
            .withColumn("frag", _frag_col())
            .repartition(N_FRAGMENTS, "frag")
            .write.mode("overwrite")
            .partitionBy("frag")
            .parquet(path)
        )

    return stored.mirror(
        MAINT_LOCATION, sf_dir, "events", f"events_frag_v{FRAG_VERSION}", write
    )


def ensure_bydate(spark: SparkSession, sf_dir: str) -> str:
    """Write the TIME-partitioned layout of the same rows once per
    corpus snapshot: ``day=K`` directories (epoch-day of the event),
    one file each — the layout a compaction/clustering job would
    produce for a time-series table."""

    def write(path: str) -> None:
        (
            _events_us(spark, sf_dir)
            .withColumn("day", F.expr(f"ts_us div {US_PER_DAY}"))
            .repartition("day")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(path)
        )

    return stored.mirror(
        MAINT_LOCATION, sf_dir, "events", f"events_bydate_v{DATE_VERSION}", write
    )


def ensure_layout_mirrors(spark: SparkSession, sf_dir: str) -> None:
    """Materialize both maintenance layouts (bench pre-build hook)."""
    ensure_fragmented(spark, sf_dir)
    ensure_bydate(spark, sf_dir)


def file_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(file, frag, n_rows) over the fragmented mirror — the metadata a
    real compaction job reads from the table format's manifest; here it
    comes from one ``input_file_name()`` scan of the data files."""
    path = ensure_fragmented(spark, sf_dir)
    frags = spark.read.parquet(path)
    return frags.groupBy(
        F.input_file_name().alias("file"), F.col("frag").cast("int").alias("frag")
    ).agg(F.count("*").alias("n_rows"))


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy fixed-budget compaction plan: files ordered smallest-first
    (then by fragment id for total order) are laid on a row-count number
    line cut every TARGET_ROWS — files sharing a cut belong to one
    compaction output group. Reports per-group file counts and row
    totals; ``n_files`` per group is the open-cost the compaction run
    amortizes away."""
    inv = file_inventory(spark, sf_dir)
    # |files|-row aggregate → the unpartitioned window is metadata-sized
    w = (
        Window.orderBy("n_rows", "frag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = inv.withColumn(
        "group_id",
        F.floor(
            (F.sum("n_rows").over(w) - F.col("n_rows")) / TARGET_ROWS
        ),
    )
    return planned.groupBy("group_id").agg(
        F.count("*").alias("n_files"),
        F.sum("n_rows").cast("long").alias("group_rows"),
    )


def _file_day_spans(frames: DataFrame) -> DataFrame:
    """Per-file epoch-day zone map (min/max day) from a real file scan —
    what a table format's manifest stores as column min/max stats."""
    day = F.expr(f"ts_us div {US_PER_DAY}")
    return frames.groupBy(F.input_file_name().alias("file")).agg(
        F.min(day).alias("dmin"), F.max(day).alias("dmax")
    )


def layout_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping effectiveness of two physical layouts of
    the SAME rows: the hash-fragmented ingest layout vs the
    time-partitioned (clustered) rewrite. For every distinct event day,
    a day-equality probe must open each file whose [min_day, max_day]
    zone map overlaps the day; the report shows the average files
    scanned per probe and the scan fraction for each layout.

    This is the number that justifies a clustering rewrite at 100 TB: a
    content-hash layout scatters every day across every file (scan
    fraction ~1.0 — zone maps prune nothing), while the time-clustered
    layout opens exactly the probed day's file. Min/max stats come from
    a REAL scan of each layout's files (``input_file_name``), so the
    report also proves both mirrors hold the same day span.

    Scale shape: the zone maps and the probe-day dimension are both
    metadata-sized aggregates; the overlap join is |files| × |days| on
    broadcast days — at a million files a real system indexes the zone
    maps instead, but the arithmetic here is the same. The only
    fact-scale work is the two min/max scans, both map-side combined."""
    frag = spark.read.parquet(ensure_fragmented(spark, sf_dir))
    bydate = spark.read.parquet(ensure_bydate(spark, sf_dir))
    days = (
        load_table(spark, sf_dir, "events")
        .select(F.expr(f"unix_micros(ts) div {US_PER_DAY}").alias("day"))
        .distinct()
    )
    out = []
    for layout, frames in (("hash_fragments", frag), ("time_partitioned", bydate)):
        spans = _file_day_spans(frames)
        overlaps = spans.join(
            F.broadcast(days),
            (F.col("day") >= F.col("dmin")) & (F.col("day") <= F.col("dmax")),
        ).agg(F.count("*").alias("n_overlaps"))
        stats = (
            spans.agg(F.count("*").alias("n_files"))
            .join(F.broadcast(days.agg(F.count("*").alias("n_probe_days"))))
            .join(F.broadcast(overlaps))
        )
        out.append(
            stats.select(
                F.lit(layout).alias("layout"),
                "n_files",
                "n_probe_days",
                F.round(
                    F.col("n_overlaps").cast("double") / F.col("n_probe_days"),
                    6,
                ).alias("avg_files_scanned"),
                F.round(
                    F.col("n_overlaps").cast("double")
                    / (F.col("n_probe_days") * F.col("n_files")),
                    6,
                ).alias("avg_scan_fraction"),
            )
        )
    return out[0].unionByName(out[1])


N_LEVELS = 16  # per-dimension zone granularity (4 bits each)
CELLS_PER_FILE = 4  # 256 z-cells → 64 planned files per layout


def _zvalue(d: Column, u: Column) -> Column:
    """Bit-interleave two 4-bit values (Morton / Z-order): day bit b →
    output bit 2b+1, user bit b → output bit 2b. Pure integer div/mod
    arithmetic so DuckDB evaluates the identical expression."""
    out = F.lit(0)
    for b in range(4):
        out = (
            out
            + (F.floor(d / F.lit(2**b)) % 2).cast("long") * (2 ** (2 * b + 1))
            + (F.floor(u / F.lit(2**b)) % 2).cast("long") * (2 ** (2 * b))
        )
    return out


def clustering_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-layout advisor: BEFORE paying for a 100 TB table
    rewrite, compute what zone-map skipping each candidate sort order
    would buy. Rows of ``events`` are assigned to planned files under
    three layouts of 64 files each — linear by day (time-major), linear
    by user bucket, and Z-ORDER (Morton bit-interleave of the 4-bit day
    and user-bucket indices, the ``OPTIMIZE ZORDER BY`` layout) — and
    each planned file's would-be zone map (min/max of BOTH dimensions)
    is computed from the actual rows. Point probes on every present
    day index and every user bucket then score each layout:
    ``avg_scan_fraction`` is the fraction of files a probe must open.

    The expected shape of the answer: time-major prunes day probes
    perfectly but scans ~everything for user probes; Z-order gives BOTH
    dimensions ~1/8 scan fraction — the measured justification for a
    multi-dimensional clustering rewrite.

    Scale shape: ONE fact-scale aggregation with ≤256 groups
    (map-side-combined (d16, u16) cell counts); every file assignment,
    zone map, and probe evaluation happens on that cell aggregate —
    metadata-sized, exactly what a real advisor reads from manifest
    stats. Day indices are rescaled against the corpus day span
    (broadcast 1-row bounds); all arithmetic is integer div/mod, so
    DuckDB replays every number."""
    ev = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(ts) div {US_PER_DAY}")
    bounds = ev.agg(F.min(day).alias("dmin"), F.max(day).alias("dmax"))
    base = ev.select(
        day.alias("day"),
        hashing.bucket(F.col("user_id").cast("string"), N_LEVELS).alias("u16"),
    ).join(F.broadcast(bounds))
    cells = (
        base.select(
            F.expr(f"(({N_LEVELS} * (day - dmin)) div (dmax - dmin + 1))")
            .cast("long")
            .alias("d16"),
            "u16",
        )
        .groupBy("d16", "u16")
        .agg(F.count("*").alias("n_rows"))
    )
    d, u = F.col("d16"), F.col("u16")
    layouts = cells.select(
        "d16",
        "u16",
        F.explode(
            F.array(
                F.struct(
                    F.lit("day_major").alias("layout"),
                    F.floor((d * N_LEVELS + u) / CELLS_PER_FILE)
                    .cast("long")
                    .alias("file"),
                ),
                F.struct(
                    F.lit("user_major").alias("layout"),
                    F.floor((u * N_LEVELS + d) / CELLS_PER_FILE)
                    .cast("long")
                    .alias("file"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.floor(_zvalue(d, u) / CELLS_PER_FILE)
                    .cast("long")
                    .alias("file"),
                ),
            )
        ).alias("e"),
    ).select("d16", "u16", F.col("e.layout").alias("layout"), F.col("e.file").alias("file"))
    zones = layouts.groupBy("layout", "file").agg(
        F.min("d16").alias("dlo"),
        F.max("d16").alias("dhi"),
        F.min("u16").alias("ulo"),
        F.max("u16").alias("uhi"),
    )
    probes = (
        cells.select(F.lit("day").alias("dim"), F.col("d16").alias("val"))
        .distinct()
        .union(
            cells.select(F.lit("user").alias("dim"), F.col("u16").alias("val"))
            .distinct()
        )
    )
    hits = (
        zones.join(
            F.broadcast(probes),
            (
                (F.col("dim") == "day")
                & (F.col("val") >= F.col("dlo"))
                & (F.col("val") <= F.col("dhi"))
            )
            | (
                (F.col("dim") == "user")
                & (F.col("val") >= F.col("ulo"))
                & (F.col("val") <= F.col("uhi"))
            ),
        )
        .groupBy("layout", "dim")
        .agg(F.count("*").alias("n_overlaps"))
    )
    n_files = zones.groupBy("layout").agg(F.count("*").alias("n_files"))
    n_probes = probes.groupBy("dim").agg(F.count("*").alias("n_probes"))
    return (
        hits.join(F.broadcast(n_files), "layout")
        .join(F.broadcast(n_probes), "dim")
        .select(
            "layout",
            F.col("dim").alias("probe_dim"),
            "n_files",
            "n_probes",
            F.round(
                F.col("n_overlaps").cast("double") / F.col("n_probes"), 6
            ).alias("avg_files_scanned"),
            F.round(
                F.col("n_overlaps").cast("double")
                / (F.col("n_probes") * F.col("n_files")),
                6,
            ).alias("avg_scan_fraction"),
        )
    )


_DAY = f"(EPOCH_US(ts) // {US_PER_DAY})"

_SKIP_SQL = f"""
    WITH ev AS (
        SELECT {hashing.bucket_sql("CAST(event_id AS VARCHAR)", N_FRAGMENTS)}
                   AS frag,
               {_DAY} AS day
        FROM events
    ), days AS (
        SELECT DISTINCT day FROM ev
    ), h AS (
        SELECT frag, MIN(day) AS dmin, MAX(day) AS dmax
        FROM ev GROUP BY frag
    ), t AS (
        SELECT day AS f, MIN(day) AS dmin, MAX(day) AS dmax
        FROM ev GROUP BY day
    ), hs AS (
        SELECT 'hash_fragments' AS layout,
               (SELECT COUNT(*) FROM h) AS n_files,
               (SELECT COUNT(*) FROM days) AS n_probe_days,
               (SELECT COUNT(*) FROM h JOIN days d
                   ON d.day BETWEEN h.dmin AND h.dmax) AS n_overlaps
    ), ts2 AS (
        SELECT 'time_partitioned' AS layout,
               (SELECT COUNT(*) FROM t) AS n_files,
               (SELECT COUNT(*) FROM days) AS n_probe_days,
               (SELECT COUNT(*) FROM t JOIN days d
                   ON d.day BETWEEN t.dmin AND t.dmax) AS n_overlaps
    ), u AS (
        SELECT * FROM hs UNION ALL SELECT * FROM ts2
    )
    SELECT layout, n_files, n_probe_days,
           ROUND(CAST(n_overlaps AS DOUBLE) / n_probe_days, 6)
               AS avg_files_scanned,
           ROUND(CAST(n_overlaps AS DOUBLE) / (n_probe_days * n_files), 6)
               AS avg_scan_fraction
    FROM u
"""


ORACLE: dict[str, str] = {
    "maintenance_layout_skipping": _SKIP_SQL,
    "maintenance_compaction_plan": f"""
        WITH inv AS (
            SELECT {hashing.bucket_sql("CAST(event_id AS VARCHAR)", N_FRAGMENTS)}
                       AS frag,
                   COUNT(*) AS n_rows
            FROM events GROUP BY 1
        ), planned AS (
            SELECT n_rows,
                   CAST(FLOOR(CAST(
                       SUM(n_rows) OVER (ORDER BY n_rows, frag
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - n_rows
                       AS DOUBLE) / {TARGET_ROWS}) AS BIGINT) AS group_id
            FROM inv
        )
        SELECT group_id, COUNT(*) AS n_files,
               CAST(SUM(n_rows) AS BIGINT) AS group_rows
        FROM planned GROUP BY group_id
    """,
}

_Z_SQL = " + ".join(
    f"((d16 // {2**b}) % 2) * {2 ** (2 * b + 1)}"
    f" + ((u16 // {2**b}) % 2) * {2 ** (2 * b)}"
    for b in range(4)
)

ORACLE["maintenance_clustering_advisor"] = f"""
    WITH ev AS (
        SELECT {_DAY} AS day,
               {hashing.bucket_sql("CAST(user_id AS VARCHAR)", N_LEVELS)} AS u16
        FROM events
    ), b AS (
        SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM ev
    ), cells AS (
        SELECT (({N_LEVELS} * (day - dmin)) // (dmax - dmin + 1)) AS d16,
               u16, COUNT(*) AS n_rows
        FROM ev CROSS JOIN b GROUP BY 1, 2
    ), m AS (
        SELECT 'day_major' AS layout,
               (d16 * {N_LEVELS} + u16) // {CELLS_PER_FILE} AS file,
               d16, u16 FROM cells
        UNION ALL
        SELECT 'user_major',
               (u16 * {N_LEVELS} + d16) // {CELLS_PER_FILE}, d16, u16
        FROM cells
        UNION ALL
        SELECT 'zorder', ({_Z_SQL}) // {CELLS_PER_FILE}, d16, u16 FROM cells
    ), zones AS (
        SELECT layout, file,
               MIN(d16) AS dlo, MAX(d16) AS dhi,
               MIN(u16) AS ulo, MAX(u16) AS uhi
        FROM m GROUP BY 1, 2
    ), probes AS (
        SELECT 'day' AS dim, d16 AS val FROM (SELECT DISTINCT d16 FROM cells)
        UNION ALL
        SELECT 'user', u16 FROM (SELECT DISTINCT u16 FROM cells)
    ), ovl AS (
        SELECT z.layout, p.dim, COUNT(*) AS n_overlaps
        FROM zones z JOIN probes p
          ON (p.dim = 'day' AND p.val BETWEEN z.dlo AND z.dhi)
          OR (p.dim = 'user' AND p.val BETWEEN z.ulo AND z.uhi)
        GROUP BY 1, 2
    ), nf AS (
        SELECT layout, COUNT(*) AS n_files FROM zones GROUP BY 1
    ), np AS (
        SELECT dim, COUNT(*) AS n_probes FROM probes GROUP BY 1
    )
    SELECT o.layout, o.dim AS probe_dim, nf.n_files, np.n_probes,
           ROUND(CAST(o.n_overlaps AS DOUBLE) / np.n_probes, 6)
               AS avg_files_scanned,
           ROUND(CAST(o.n_overlaps AS DOUBLE) / (np.n_probes * nf.n_files), 6)
               AS avg_scan_fraction
    FROM ovl o
    JOIN nf ON nf.layout = o.layout
    JOIN np ON np.dim = o.dim
"""

SKEW_MODERATE = 2  # keys above this ×mean are "warm"
SKEW_HOT = 10  # keys above this ×mean force salting


def skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation key-skew report over ``events.user_id`` — the
    pre-flight diagnostic that decides whether a planned shuffle needs
    salting (``functions/skew.py``) or AQE skew-join splitting before
    it runs at 100 TB, where one hot key = one straggler task that
    holds the whole stage.

    One fact scan aggregates to per-key counts (map-side combined);
    everything after runs on the KEY table (|keys| rows, not |rows|):
    the 1-row moment aggregate broadcasts back to count how many keys
    exceed 2× / 10× the mean, and ``recommended_salt`` =
    ceil(max/mean) is the fan-out that levels the hottest key's
    partition to the average — the exact parameter
    ``salted_sum_count`` takes. Integer inputs throughout → identical
    IEEE division and CEIL on both engines."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    totals = per_key.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_key_rows"),
    ).withColumn("k", F.lit(1))
    mean = F.col("n_rows").cast("double") / F.col("n_keys")
    flagged = per_key.withColumn("k", F.lit(1)).join(
        F.broadcast(totals), "k"
    )
    counted = flagged.groupBy(
        "n_rows", "n_keys", "max_key_rows"
    ).agg(
        F.sum(
            (F.col("n") > SKEW_MODERATE * mean).cast("long")
        ).alias("n_keys_over_2x"),
        F.sum((F.col("n") > SKEW_HOT * mean).cast("long")).alias(
            "n_keys_over_10x"
        ),
    )
    return counted.select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.round(mean, 6).alias("mean_rows_per_key"),
        F.round(F.col("max_key_rows").cast("double") / mean, 6).alias(
            "skew_ratio"
        ),
        "n_keys_over_2x",
        "n_keys_over_10x",
        F.ceil(F.col("max_key_rows").cast("double") / mean)
        .cast("long")
        .alias("recommended_salt"),
    )


ORACLE["maintenance_skew_advisor"] = f"""
    WITH per_key AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), totals AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
               MAX(n) AS max_key_rows
        FROM per_key
    )
    SELECT t.n_rows, t.n_keys, t.max_key_rows,
           ROUND(CAST(t.n_rows AS DOUBLE) / t.n_keys, 6)
               AS mean_rows_per_key,
           ROUND(CAST(t.max_key_rows AS DOUBLE)
                 / (CAST(t.n_rows AS DOUBLE) / t.n_keys), 6) AS skew_ratio,
           CAST(SUM(CASE WHEN p.n > {SKEW_MODERATE}
                        * (CAST(t.n_rows AS DOUBLE) / t.n_keys)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_over_2x,
           CAST(SUM(CASE WHEN p.n > {SKEW_HOT}
                        * (CAST(t.n_rows AS DOUBLE) / t.n_keys)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_over_10x,
           CAST(CEIL(CAST(t.max_key_rows AS DOUBLE)
                     / (CAST(t.n_rows AS DOUBLE) / t.n_keys)) AS BIGINT)
               AS recommended_salt
    FROM per_key p CROSS JOIN totals t
    GROUP BY t.n_rows, t.n_keys, t.max_key_rows
"""

QUERIES = {
    "maintenance_compaction_plan": compaction_plan,
    "maintenance_layout_skipping": layout_skipping,
    "maintenance_clustering_advisor": clustering_advisor,
    "maintenance_skew_advisor": skew_advisor,
}
