"""Deterministic sampling operators.

A 100 TB pipeline samples constantly — eval splits, quality audits,
debugging subsets — and `rand()`-based sampling is useless there: not
reproducible across retries, engines, or partitionings. These operators
key every inclusion decision on a content hash (md5 of the row's stable
key), so the same row is always in or out regardless of cluster layout,
and the DuckDB oracle reproduces the sample bit-for-bit.

The reference has no sampling surface at all (its generator caps at 10k
rows, reference ``backend/app.py:262-263``); this family is part of the
training-data-pipeline extension set.

Scale shape: a hash sample is a stateless per-row filter — no shuffle, no
coordination, pushes through any scan, and composes with partition
pruning. Stratified rates are a broadcast map lookup on the stratum key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table
from automotive_big_data_analysis_spark.functions import exact as ex
from automotive_big_data_analysis_spark.functions import hashing
from automotive_big_data_analysis_spark.functions import text as tx

SAMPLE_BUCKETS = 1000

# per-lang sampling rates in permille — the kind of language-rebalancing
# map an LLM-data pipeline applies before training
STRATA_RATES = {"en": 600, "zh": 400, "de": 300, "fr": 200}
DEFAULT_RATE = 100


def lineitem_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag aggregates over a deterministic 5% lineitem sample,
    with exact-population counts alongside so the sampling error is
    visible. One scan, no shuffle before the groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber"))
    in_sample = (hashing.bucket(key, SAMPLE_BUCKETS) < 50).cast("int")
    return (
        li.select("l_returnflag", "l_quantity", "l_extendedprice", in_sample.alias("s"))
        .groupBy("l_returnflag")
        .agg(
            F.sum("s").cast("long").alias("n_sampled"),
            F.count("*").alias("n_total"),
            # quantities are integral doubles (exact under 2^53) — plain
            # sum; prices are fractional — exact decimal accumulation
            F.round(F.sum(F.col("s") * F.col("l_quantity")), 2).alias("sample_qty"),
            ex.dsum(F.col("s") * F.col("l_extendedprice")).alias("sample_revenue"),
        )
        .orderBy("l_returnflag")
    )


def stratified_document_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified document sample at per-stratum rates (a
    `sampleBy` with deterministic, content-keyed inclusion). Returns the
    per-lang sample size and mean length — the audit view a rebalancing
    step reports."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(DEFAULT_RATE)
    for lang, permille in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(permille)).otherwise(rate)
    b = hashing.bucket(F.col("doc_id").cast("string"), SAMPLE_BUCKETS)
    sampled = docs.where(b < rate)
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


def orders_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10 by key hash): the
    standard eval-split operator. Emits per-split counts and revenue so
    the oracle verifies both membership and disjointness (counts sum to
    the table total)."""
    orders = load_table(spark, sf_dir, "orders")
    b = hashing.bucket(F.col("o_orderkey").cast("string"), SAMPLE_BUCKETS)
    split = (
        F.when(b < 800, "train").when(b < 900, "val").otherwise("test")
    )
    return (
        orders.select(split.alias("split"), "o_totalprice")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_orders"),
            ex.dsum("o_totalprice").alias("revenue"),
        )
        .orderBy("split")
    )


WEIGHT_SCALE = 800  # quality 1.0 → 80% keep rate


def weighted_document_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sample: each document's keep
    probability is proportional to its heuristic quality score (keep iff
    content-hash bucket < floor(quality × ``WEIGHT_SCALE``)) — the
    "sample good data harder" curation policy, still fully reproducible
    because both the weight and the coin are content-derived.

    Determinism note: the permille threshold uses FLOOR of the identical
    double product on both engines — a bare int cast would diverge
    (Spark truncates, DuckDB rounds). Per-lang audit output; sampled
    quality averages accumulate in DECIMAL."""
    docs = load_table(spark, sf_dir, "documents")
    q = tx.quality_score("text")
    thresh = F.floor(q * WEIGHT_SCALE)
    inc = (
        hashing.bucket(F.col("doc_id").cast("string"), SAMPLE_BUCKETS) < thresh
    ).cast("int")
    marked = docs.select("lang", q.alias("q"), inc.alias("s"))
    return (
        marked.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("s").cast("long").alias("n_sampled"),
            F.round(
                F.sum(ex.dec(F.col("s") * F.col("q"))).cast("double")
                / F.nullif(F.sum("s"), F.lit(0)),
                6,
            ).alias("avg_quality_sampled"),
            F.round(F.sum("s") / F.count("*"), 6).alias("keep_rate"),
        )
        .orderBy("lang")
    )


def _split_col(key: Column):
    """80/10/10 split from the content-keyed hash bucket of ``key``."""
    b = hashing.bucket(key.cast("string"), SAMPLE_BUCKETS)
    return (
        F.when(b < 800, "train").when(b < 900, "val").otherwise("test")
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware train/val/test split — the eval-split
    operator that prevents *duplicate leakage*: if two near-duplicate
    documents land in different splits, the eval set silently overlaps
    the training set and benchmark numbers inflate. The fix is to key
    the split hash on the document's near-dup CONNECTED COMPONENT
    (``dedup.component_labels`` — min doc_id of the transitive cluster;
    docs outside the pair graph are their own singleton group), so a
    whole cluster moves to one split atomically.

    Output compares the naive doc-keyed policy against the group-keyed
    one: per-policy split sizes plus ``leaked_pairs`` — verified
    near-dup pairs whose endpoints sit in different splits. Group-keyed
    leakage is structurally zero (same component → same key → same
    split); the doc-keyed row quantifies the leakage being prevented.

    Scale shape: one scan of documents (doc_id projection) left-joined
    to the component label table (graph-sized, orders of magnitude
    smaller than the corpus — AQE broadcasts it); the leak audit joins
    the pair list (also graph-sized) to the assignment twice. Split
    membership is content-keyed md5 arithmetic — reproducible across
    engines, retries, and partitionings."""
    from automotive_big_data_analysis_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = dedup.component_labels(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    assigned = (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            _split_col(F.col("doc_id")).alias("doc_split"),
            _split_col(F.coalesce("label", "doc_id")).alias("group_split"),
        )
    )
    melted = assigned.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("doc_keyed").alias("policy"),
                    F.col("doc_split").alias("split"),
                ),
                F.struct(
                    F.lit("group_keyed").alias("policy"),
                    F.col("group_split").alias("split"),
                ),
            )
        ).alias("e")
    ).select("e.policy", "e.split")
    counts = melted.groupBy("policy").agg(
        *[
            F.sum(F.when(F.col("split") == s, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{s}")
            for s in ("train", "val", "test")
        ]
    )
    a = assigned.select(
        F.col("doc_id").alias("doc_a"),
        F.col("doc_split").alias("a_doc"),
        F.col("group_split").alias("a_group"),
    )
    b = assigned.select(
        F.col("doc_id").alias("doc_b"),
        F.col("doc_split").alias("b_doc"),
        F.col("group_split").alias("b_group"),
    )
    leaks = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.coalesce(
                F.sum((F.col("a_doc") != F.col("b_doc")).cast("int")), F.lit(0)
            )
            .cast("long")
            .alias("doc_leaked"),
            F.coalesce(
                F.sum((F.col("a_group") != F.col("b_group")).cast("int")),
                F.lit(0),
            )
            .cast("long")
            .alias("group_leaked"),
        )
    )
    leak_rows = leaks.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("doc_keyed").alias("policy"),
                    F.col("doc_leaked").alias("leaked_pairs"),
                ),
                F.struct(
                    F.lit("group_keyed").alias("policy"),
                    F.col("group_leaked").alias("leaked_pairs"),
                ),
            )
        ).alias("e")
    ).select("e.policy", "e.leaked_pairs")
    return counts.join(F.broadcast(leak_rows), "policy")


_LI_KEY = "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
_DOC_B = hashing.bucket_sql("CAST(doc_id AS VARCHAR)", SAMPLE_BUCKETS)

ORACLE: dict[str, str] = {
    "sample_lineitem_stats": f"""
        SELECT l_returnflag,
               CAST(SUM(s) AS BIGINT) AS n_sampled,
               COUNT(*) AS n_total,
               ROUND(SUM(s * l_quantity), 2) AS sample_qty,
               {ex.dsum_sql("s * l_extendedprice")} AS sample_revenue
        FROM (
            SELECT l_returnflag, l_quantity, l_extendedprice,
                   CASE WHEN {hashing.bucket_sql(_LI_KEY, SAMPLE_BUCKETS)} < 50
                        THEN 1 ELSE 0 END AS s
            FROM lineitem
        ) GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "sample_stratified_documents": f"""
        SELECT lang, COUNT(*) AS n_sampled,
               ROUND(AVG(n_chars), 6) AS avg_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM documents
        WHERE {_DOC_B} <
              CASE {" ".join(f"WHEN lang = '{lang}' THEN {r}" for lang, r in STRATA_RATES.items())}
                   ELSE {DEFAULT_RATE} END
        GROUP BY lang ORDER BY lang
    """,
    "sample_weighted_documents": f"""
        WITH q AS (
            SELECT lang, doc_id, {tx.quality_score_sql("text")} AS q
            FROM documents
        ), marked AS (
            SELECT lang, q,
                   CASE WHEN {_DOC_B} < FLOOR(q * {WEIGHT_SCALE})
                        THEN 1 ELSE 0 END AS s
            FROM q
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(s) AS BIGINT) AS n_sampled,
               ROUND(CAST(SUM(CAST(s * q AS {ex.SQL_DEC})) AS DOUBLE)
                     / NULLIF(SUM(s), 0), 6) AS avg_quality_sampled,
               ROUND(SUM(s) / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate
        FROM marked GROUP BY lang ORDER BY lang
    """,
    "sample_orders_split": f"""
        SELECT CASE WHEN b < 800 THEN 'train'
                    WHEN b < 900 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_orders,
               {ex.dsum_sql("o_totalprice")} AS revenue
        FROM (
            SELECT o_totalprice,
                   {hashing.bucket_sql("CAST(o_orderkey AS VARCHAR)", SAMPLE_BUCKETS)}
                       AS b
            FROM orders
        ) GROUP BY 1 ORDER BY 1
    """,
}


def _leakage_sql() -> str:
    """DuckDB replay: recursive-CTE connected components over the same
    verified pair list (the ``dedup_components`` oracle formulation),
    then the identical md5 split arithmetic for both policies."""
    from automotive_big_data_analysis_spark.operators import dedup

    doc_b = hashing.bucket_sql("CAST(d.doc_id AS VARCHAR)", SAMPLE_BUCKETS)
    grp_b = hashing.bucket_sql(
        "CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)", SAMPLE_BUCKETS
    )
    return (
        dedup._SHINGLES_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
        + dedup._PAIR_SQL_TAIL
        + f"""
    , fpairs AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE jaccard >= {dedup.JACCARD_THRESHOLD}
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM fpairs
        UNION
        SELECT doc_b, doc_a FROM fpairs
    ), reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    ), assigned AS (
        SELECT d.doc_id,
               CASE WHEN {doc_b} < 800 THEN 'train'
                    WHEN {doc_b} < 900 THEN 'val'
                    ELSE 'test' END AS doc_split,
               CASE WHEN {grp_b} < 800 THEN 'train'
                    WHEN {grp_b} < 900 THEN 'val'
                    ELSE 'test' END AS group_split
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ), leaks AS (
        SELECT
            CAST(COALESCE(SUM(CASE WHEN a.doc_split != b.doc_split
                                   THEN 1 ELSE 0 END), 0) AS BIGINT)
                AS doc_leaked,
            CAST(COALESCE(SUM(CASE WHEN a.group_split != b.group_split
                                   THEN 1 ELSE 0 END), 0) AS BIGINT)
                AS group_leaked
        FROM fpairs p
        JOIN assigned a ON p.doc_a = a.doc_id
        JOIN assigned b ON p.doc_b = b.doc_id
    )
    SELECT 'doc_keyed' AS policy,
           CAST(COUNT(*) FILTER (doc_split = 'train') AS BIGINT) AS n_train,
           CAST(COUNT(*) FILTER (doc_split = 'val') AS BIGINT) AS n_val,
           CAST(COUNT(*) FILTER (doc_split = 'test') AS BIGINT) AS n_test,
           (SELECT doc_leaked FROM leaks) AS leaked_pairs
    FROM assigned
    UNION ALL
    SELECT 'group_keyed',
           CAST(COUNT(*) FILTER (group_split = 'train') AS BIGINT),
           CAST(COUNT(*) FILTER (group_split = 'val') AS BIGINT),
           CAST(COUNT(*) FILTER (group_split = 'test') AS BIGINT),
           (SELECT group_leaked FROM leaks)
    FROM assigned
    """
    )


ORACLE["sample_leakage_safe_split"] = _leakage_sql()

QUOTA_PERMILLE = 250  # exact 25% per language
QUOTA_PREFIX_BUCKETS = 256  # md5-prefix ranges: an ORDERED rank coarsening
# The bucket key is the first N hex chars of the md5, so the bucket count
# must be a power of 16 and the implementation derives the slice length
# from it — changing the constant changes the split (round-10 ADVICE: the
# old hardcoded substring(h, 1, 2) made the constant documentation-only).
_QUOTA_PREFIX_CHARS = 1
while 16**_QUOTA_PREFIX_CHARS < QUOTA_PREFIX_BUCKETS:
    _QUOTA_PREFIX_CHARS += 1
assert 16**_QUOTA_PREFIX_CHARS == QUOTA_PREFIX_BUCKETS, (
    "QUOTA_PREFIX_BUCKETS must be a power of 16 (hex-prefix bucketing)"
)


def exact_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-QUOTA stratified sample: per language, exactly
    ``floor(n_lang · 250/1000)`` documents — the smallest-md5 members —
    where rate-based hash sampling (``sample_stratified_documents``)
    delivers only a binomially-distributed count. Audits, eval sets,
    and benchmark extracts need the quota form: "give me exactly 25%".

    Selection = per-lang rank over the md5 order, computed WITHOUT a
    per-lang window over the document table (5 language partitions
    sorting all docs is the skew the two-pass rank machinery exists
    for): the first two hex chars of the md5 split its order into 256
    CONTIGUOUS ranges, so global rank = (count in earlier buckets) +
    (rank within own bucket) — per-(lang, bucket) windows over ~1/256th
    slices plus a |langs|·256-row offset aggregate. A test pins
    equality with the naive single-window formulation.

    Output pins membership, not just counts: ``id_sum`` and
    ``max_hash`` (the selection threshold) change if ANY selected doc
    differs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    keyed = docs.withColumn(
        "bk", F.conv(F.substring("h", 1, _QUOTA_PREFIX_CHARS), 16, 10).cast("int")
    )
    counts = keyed.groupBy("lang", "bk").agg(F.count("*").alias("c"))
    woff = (
        Window.partitionBy("lang")
        .orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "lang", "bk", F.coalesce(F.sum("c").over(woff), F.lit(0)).alias("off")
    )
    tot = counts.groupBy("lang").agg(F.sum("c").alias("n_docs"))
    tot = tot.withColumn(
        "quota",
        F.floor(F.col("n_docs") * QUOTA_PERMILLE / 1000).cast("long"),
    )
    win = Window.partitionBy("lang", "bk").orderBy("h", "doc_id")
    ranked = (
        keyed.join(F.broadcast(offs), ["lang", "bk"])
        .join(F.broadcast(tot), "lang")
        .withColumn("r", F.col("off") + F.row_number().over(win))
    )
    return (
        ranked.where(F.col("r") <= F.col("quota"))
        .groupBy("lang")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("quota").alias("quota"),
            F.count("*").alias("n_selected"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.max("h").alias("max_hash"),
        )
        .orderBy("lang")
    )


ORACLE["sample_exact_quota_documents"] = f"""
    WITH k AS (
        SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ), t AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(FLOOR(COUNT(*) * {QUOTA_PERMILLE} / 1000) AS BIGINT)
                   AS quota
        FROM k GROUP BY lang
    ), r AS (
        SELECT lang, doc_id, h,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY h, doc_id) AS rn
        FROM k
    )
    SELECT lang, t.n_docs, t.quota, COUNT(*) AS n_selected,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum, MAX(h) AS max_hash
    FROM r JOIN t USING (lang)
    WHERE rn <= t.quota
    GROUP BY lang, t.n_docs, t.quota
    ORDER BY lang
"""


QUERIES = {
    "sample_lineitem_stats": lineitem_sample_stats,
    "sample_stratified_documents": stratified_document_sample,
    "sample_weighted_documents": weighted_document_sample,
    "sample_orders_split": orders_sample_split,
    "sample_leakage_safe_split": leakage_safe_split,
    "sample_exact_quota_documents": exact_quota_sample,
}
