"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` maps every
implemented operator (SURVEY.md §2 + extensions) to a
``(spark, sf_dir) -> DataFrame`` callable; ``oracle_sql()`` carries the
DuckDB-equivalent SQL for the driver's hash-comparison gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from automotive_big_data_analysis_spark.operators import analytics, asof, dedup, events, maintenance, multimodal, pipeline, rag_prep, relational, relational_ext, relational_tpch, relational_tpch2, relational_tpch3, relational_tpch4, sampling, similarity, text_analysis, training_prep
from automotive_big_data_analysis_spark.sources import bucketed, cdc, schema_evolution, text_formats
from automotive_big_data_analysis_spark.streaming import documents_stream, events_stream

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return relational.pricing_summary(spark, SMOKE_SF_DIR)


# The external correctness sweep checks the FIRST 50 registered names
# (dict order), so the order is a verification-coverage decision: the
# names with the oldest sweep evidence, and any whose values changed,
# go first; the rest follow in module order. Every name past position 50
# is still covered by the local oracle sweep (scripts/check_oracle.py).
# Rotate the window as its evidence ages.
_SWEEP_PRIORITY = [
    # (a) the r12 post-freeze registration (no driver row) — ALSO
    # value-changed this round (canonical merge application)
    "text_bpe_merges",
    # (b) NEW this round: the post-training encode pass + the dedup
    # index-update accounting (VERDICT items 2 and 7)
    "text_bpe_apply",
    "dedup_index_update_stats",
    # (c) the displaced r9 cohort, rotated back (oldest driver evidence)
    "embedding_label_centroids",
    "embedding_projection_quality",
    "knn_ivfpq_rerank",
    "knn_ivf_filtered",
    "dedup_ngram_pairs",
    "order_value_deciles",
    "orders_rfm_segments",
    "parts_supplier_counts",
    "quantity_percentiles",
    "salted_type_totals",
    "sole_supplier_orders",
    "supplier_customer_balance",
    "top_customer_per_nation",
    "top_revenue_suppliers",
    "source_csv_events",
    "source_jsonl_events",
    "text_collocation_lift",
    "text_lang_trigram_confusion",
    "text_word_topk",
    "text_wordpiece_stats",
    # (d) 28 of the 46-query r10 freshness cohort (18 displaced —
    # header); the two r12 watch items lead
    "stream_user_totals_evict",
    "dedup_corpus_overlap",
    "stream_enriched_events",
    "stream_hourly_rollup",
    "dedup_quality_report",
    "dedup_span_stats",
    "knn_ivf_sq8",
    "knn_lsh_multitable",
    "knn_sq8",
    "docs_bm25_topk",
    "docs_hybrid_rrf",
    "docs_quality_regression",
    "docs_unigram_surprisal",
    "embedding_semantic_keep_stats",
    "maintenance_clustering_advisor",
    "maintenance_compaction_plan",
    "maintenance_skew_advisor",
    "sample_exact_quota_documents",
    "sample_leakage_safe_split",
    "source_cdc_merge_events",
    "source_idempotent_reingest_events",
    "source_schema_evolution_events",
    "cdc_ivm_hourly_rollup",
    "training_epoch_order",
    "bloom_prune_join_stats",
    "events_rollup_hierarchy",
    "year_trend",
]
# The window is exactly full (50 entries).


# Every module that registers queries (``QUERIES``) and their DuckDB
# oracles (``ORACLE``), in registration order.
_MODULES = (
    relational,
    relational_ext,
    relational_tpch,
    relational_tpch2,
    relational_tpch3,
    relational_tpch4,
    sampling,
    events,
    text_analysis,
    dedup,
    similarity,
    asof,
    multimodal,
    bucketed,
    text_formats,
    events_stream,
    documents_stream,
    pipeline,
    training_prep,
    analytics,
    rag_prep,
    maintenance,
    schema_evolution,
    cdc,
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        merged.update(mod.QUERIES)
    out = {name: merged.pop(name) for name in _SWEEP_PRIORITY}
    out.update(merged)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLE)
    return out
