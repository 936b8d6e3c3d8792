"""End-to-end training-corpus curation pipeline over ``documents``.

Composes the extension families into the sequence every LLM-data pipeline
runs before training (the reference has no such surface — this is the
training-data-pipeline extension set applied end to end):

    clean (strip markup, redact PII, normalize whitespace)
    → quality gate (heuristic score ≥ threshold)
    → exact dedup, keep-first (md5 of cleaned text)
    → near-dup removal, keep-first (verified n-gram Jaccard pairs from
      ``operators/dedup.py`` — shared/staged, not recomputed here)
    → deterministic hash sample (content-keyed, reproducible anywhere)
    → optional partitioned parquet write (by lang)

Scale shape: one scan of documents computes cleaning, quality, and the
exact-dup rank (one shuffle on the 32-byte text hash); near-dup marking is
a left join against the (tiny) verified pair list; the sample is a
stateless per-row filter. Every drop decision is recorded as a flag
column, so the per-stage accounting (``curation_report``) is ONE
aggregation over the marked frame — no per-stage recount jobs.

Drop semantics are first-match in pipeline order (a document that is both
low-quality and a near-dup counts as dropped_lowq), so stage counts sum
to the corpus total exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table, spread
from automotive_big_data_analysis_spark.functions import hashing
from automotive_big_data_analysis_spark.functions import text as tx
from automotive_big_data_analysis_spark.operators import dedup
from automotive_big_data_analysis_spark.operators.sampling import SAMPLE_BUCKETS

SAMPLE_PERMILLE = 1000  # keep everything by default; tests dial it down


def mark_documents(
    spark: SparkSession,
    sf_dir: str,
    sample_permille: int = SAMPLE_PERMILLE,
) -> DataFrame:
    """One marked frame with the pipeline's drop/keep decisions.

    Columns added: ``clean_text``, ``quality``, ``stage`` (the first
    pipeline stage that drops the doc: lowq | exact_dup | near_dup |
    sampled_out, or kept).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    cleaned = docs.withColumn("clean_text", tx.clean_text("text")).withColumn(
        "quality", tx.quality_score("clean_text")
    )
    # exact-dup rank among quality survivors only (drops don't shadow
    # kept docs); rank 1 = keeper, deterministic by doc_id
    is_lowq = F.col("quality") < tx.QUALITY_MIN
    w = Window.partitionBy(
        F.when(
            is_lowq, F.concat(F.lit("lowq:"), F.col("doc_id").cast("string"))
        ).otherwise(F.md5("clean_text"))
    ).orderBy("doc_id")
    ranked = cleaned.withColumn("_rn", F.row_number().over(w))
    # near-dup survivors from the shared verified pair list: doc_b of any
    # pair is the dropped side (keep-first by id, as in dedup.keep_list_stats)
    near_removed = (
        dedup.ngram_jaccard_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_near", F.lit(1))
    )
    marked = ranked.join(near_removed, "doc_id", "left")
    in_sample = (
        hashing.bucket(F.col("clean_text"), SAMPLE_BUCKETS) < sample_permille
    )
    return marked.withColumn(
        "stage",
        F.when(is_lowq, F.lit("lowq"))
        .when(F.col("_rn") > 1, F.lit("exact_dup"))
        .when(F.col("_near").isNotNull(), F.lit("near_dup"))
        .when(~in_sample, F.lit("sampled_out"))
        .otherwise(F.lit("kept")),
    ).drop("_rn", "_near")


def curate_documents(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    sample_permille: int = SAMPLE_PERMILLE,
) -> DataFrame:
    """The surviving corpus (doc_id, lang, cleaned text, quality). With
    ``out_dir``, also written as parquet partitioned by ``lang`` — the
    layout downstream per-language jobs prune on."""
    kept = (
        mark_documents(spark, sf_dir, sample_permille)
        .where(F.col("stage") == "kept")
        .select("doc_id", "lang", F.col("clean_text").alias("text"), "quality")
    )
    if out_dir is not None:
        kept.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
        return spark.read.parquet(out_dir)
    return kept


def curation_report(
    spark: SparkSession,
    sf_dir: str,
    sample_permille: int = SAMPLE_PERMILLE,
) -> DataFrame:
    """Per-lang stage accounting in ONE aggregation over the marked frame;
    stage counts sum to n_docs exactly (first-match drop semantics)."""
    marked = mark_documents(spark, sf_dir, sample_permille)
    return (
        marked.groupBy("lang")
        .pivot("stage", ["kept", "lowq", "exact_dup", "near_dup", "sampled_out"])
        .count()
        .select(
            "lang",
            *[
                F.coalesce(F.col(s), F.lit(0)).cast("long").alias(s)
                for s in ["kept", "lowq", "exact_dup", "near_dup", "sampled_out"]
            ],
        )
    )


# DuckDB mirror of the full pipeline, stage by stage, in the same order as
# mark_documents: strip tags → decode entities → redact PII → collapse
# whitespace → quality → exact-dup rank among quality survivors →
# near-dup removed set (raw-text n-gram pairs, dedup.py oracle CTEs) →
# content-hash sample → first-match stage label.
_REPORT_SQL = (
    dedup._SHINGLES_CTE
    + dedup._PAIR_SQL_TAIL
    + rf"""
    , removed AS (
        SELECT DISTINCT doc_b AS doc_id FROM pairs
        WHERE jaccard >= {dedup.JACCARD_THRESHOLD}
    ), cleaned AS (
        SELECT doc_id, lang, {tx.clean_text_sql("text")} AS clean_text
        FROM documents
    ), quality AS (
        SELECT doc_id, lang, clean_text,
               {tx.quality_score_sql("clean_text")} AS quality
        FROM cleaned
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY CASE WHEN quality < __QMIN__
                              THEN 'lowq:' || CAST(doc_id AS VARCHAR)
                              ELSE md5(clean_text) END
            ORDER BY doc_id
        ) AS rn
        FROM quality
    ), staged AS (
        SELECT q.lang,
               CASE WHEN q.quality < __QMIN__ THEN 'lowq'
                    WHEN q.rn > 1 THEN 'exact_dup'
                    WHEN r.doc_id IS NOT NULL THEN 'near_dup'
                    WHEN {hashing.bucket_sql("q.clean_text", SAMPLE_BUCKETS)}
                         >= __PERMILLE__ THEN 'sampled_out'
                    ELSE 'kept' END AS stage
        FROM ranked q LEFT JOIN removed r ON q.doc_id = r.doc_id
    )
    SELECT lang,
           CAST(COUNT(*) FILTER (stage = 'kept') AS BIGINT) AS kept,
           CAST(COUNT(*) FILTER (stage = 'lowq') AS BIGINT) AS lowq,
           CAST(COUNT(*) FILTER (stage = 'exact_dup') AS BIGINT) AS exact_dup,
           CAST(COUNT(*) FILTER (stage = 'near_dup') AS BIGINT) AS near_dup,
           CAST(COUNT(*) FILTER (stage = 'sampled_out') AS BIGINT)
               AS sampled_out
    FROM staged GROUP BY lang
    """
)

SAMPLED_PERMILLE = 500  # the sampled variant keeps ~half the survivors


def curation_report_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation report with the hash-sample stage LIVE (permille=500):
    quality/dedup decisions are identical to ``curation_report``; roughly
    half the would-be-kept documents land in ``sampled_out`` instead,
    selected by the same content-keyed hash on both engines."""
    return curation_report(spark, sf_dir, sample_permille=SAMPLED_PERMILLE)


ORACLE: dict[str, str] = {
    # plain token replacement — .format() would choke on the regex
    # quantifier braces ({2,}, {1,3}) inside the cleaning patterns
    "pipeline_curation_report": _REPORT_SQL.replace(
        "__QMIN__", str(tx.QUALITY_MIN)
    ).replace("__PERMILLE__", str(SAMPLE_PERMILLE)),
    "pipeline_curation_sampled": _REPORT_SQL.replace(
        "__QMIN__", str(tx.QUALITY_MIN)
    ).replace("__PERMILLE__", str(SAMPLED_PERMILLE)),
}

QUERIES = {
    "pipeline_curation_report": curation_report,
    "pipeline_curation_sampled": curation_report_sampled,
}
