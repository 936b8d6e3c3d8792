"""Plan-shape assertions: the scale properties SURVEY §4 promises must be
visible in the physical plan, not just hoped for."""

from __future__ import annotations

import pytest

from automotive_big_data_analysis_spark.operators import relational, similarity
from automotive_big_data_analysis_spark.plans import explain as px

SF = "/root/testdata/sf0.001"


def test_filtered_scan_pushes_predicates_and_prunes(spark):
    df = relational.filtered_scan(spark, SF)
    pushed = " ".join(px.pushed_filters(df))
    assert "l_returnflag" in pushed and "l_quantity" in pushed
    schemas = " ".join(px.read_schemas(df))
    # only the 5 projected + filter columns are read, never the full table
    assert "l_shipdate" not in schemas
    assert "l_extendedprice" in schemas


def test_pricing_summary_prunes_and_partial_aggregates(spark):
    df = relational.pricing_summary(spark, SF)
    schemas = " ".join(px.read_schemas(df))
    assert "l_orderkey" not in schemas  # 7 needed columns only
    assert px.has_partial_aggregation(df)
    assert px.shuffle_count(df) == 1  # single agg shuffle


def test_revenue_by_nation_broadcasts_dims(spark):
    df = relational.revenue_by_nation(spark, SF)
    # nation + region explicitly broadcast; customer small enough that AQE
    # or the planner may broadcast it too — at least 2 broadcasts required
    assert px.broadcast_join_count(df) >= 2
    pushed = " ".join(px.pushed_filters(df))
    # the region-name filter reaches the region scan
    assert "r_name" in pushed


def test_point_lookup_pushes_key(spark):
    df = relational.point_lookup(spark, SF)
    pushed = " ".join(px.pushed_filters(df))
    assert "o_orderkey" in pushed


def test_top_orders_no_global_sort_shuffle(spark):
    df = relational.top_orders(spark, SF)
    plan = px.physical_plan(df)
    assert "TakeOrderedAndProject" in plan  # top-k, not full sort


def test_knn_broadcasts_queries(spark):
    df = similarity.knn_bruteforce(spark, SF)
    assert px.broadcast_join_count(df) >= 1


def test_segment_share_single_fact_shuffle(spark):
    df = relational.segment_share(spark, SF)
    # customer is broadcast → orders never shuffles before aggregation;
    # remaining exchanges: agg by segment + the scalar-total window
    assert px.broadcast_join_count(df) >= 1
    assert px.shuffle_count(df) <= 3


def test_asof_join_is_not_cartesian(spark):
    from automotive_big_data_analysis_spark.operators import asof

    df = asof.purchase_attribution(spark, SF)
    plan = px.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_is_not_cartesian(spark):
    from automotive_big_data_analysis_spark.operators import dedup

    df = dedup.minhash_lsh_pairs(spark, SF)
    plan = px.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_revenue_suppliers_broadcasts_bounded_side(spark):
    """Q15: the tie-bounded max-revenue rows broadcast INTO supplier —
    the supplier table itself must never hash-shuffle (at 100 TB it is
    fact-scale; only the handful of max rows is provably small)."""
    from automotive_big_data_analysis_spark.operators import relational_tpch2 as t2

    df = t2.top_revenue_suppliers(spark, SF)
    plan = px.physical_plan(df)
    assert px.broadcast_join_count(df) >= 2  # one-row max + bounded top
    assert "Exchange hashpartitioning(s_suppkey" not in plan


def test_sessionize_single_shuffle_and_pruned_payload(spark):
    """Gap sessionization is ONE shuffle on user_id (the groupBy keys
    (user_id, session_seq) are satisfied by the window's partitioning)
    and the sort never carries the props JSON payload."""
    from automotive_big_data_analysis_spark.operators import events

    df = events.sessionize(spark, SF)
    assert px.shuffle_count(df) == 1
    assert "props" not in " ".join(px.read_schemas(df))


def test_session_window_reads_two_columns(spark):
    from automotive_big_data_analysis_spark.operators import events

    df = events.session_window_stats(spark, SF)
    schemas = " ".join(px.read_schemas(df))
    assert "props" not in schemas and "value" not in schemas
    assert "ts" in schemas and "user_id" in schemas


def test_props_value_per_type_reads_two_columns(spark):
    from automotive_big_data_analysis_spark.operators import events

    df = events.props_value_per_type(spark, SF)
    schemas = " ".join(px.read_schemas(df))
    assert "props" in schemas and "event_type" in schemas
    assert "user_id" not in schemas and "value" not in schemas


def test_price_histogram_partial_aggregation(spark):
    df = relational.price_histogram(spark, SF)
    assert px.has_partial_aggregation(df)


def test_events_hourly_rollup_partial_aggregation(spark):
    from automotive_big_data_analysis_spark.operators import events

    df = events.hourly_rollup(spark, SF)
    assert px.has_partial_aggregation(df)


def test_frame_plan_never_reads_text_payload(spark):
    """The metadata-only media query must not scan document bodies — at
    100 TB this is the difference between reading kilobytes and terabytes."""
    from automotive_big_data_analysis_spark.operators import multimodal as mm

    df = mm.frame_plan(spark, SF)
    schemas = " ".join(px.read_schemas(df))
    assert "text" not in schemas
    assert "n_chars" in schemas
    # the resize PLANNER is likewise metadata-only: it estimates the
    # pixel volume of a normalization pass without reading one payload
    # byte (execution — resize_images — is the stage that pays decode)
    rp = " ".join(px.read_schemas(mm.resize_plan(spark, SF)))
    assert "text" not in rp
    assert "n_chars" in rp


def test_resize_exec_reads_payload_exactly_once(spark):
    """The resize EXECUTOR is the stage that pays decode: its plan must
    scan the documents payload exactly once and push it through exactly
    one Arrow mapInPandas stage — no re-read, no self-join."""
    from automotive_big_data_analysis_spark.operators import multimodal as mm

    df = mm.resize_exec_stats(spark, SF)
    schemas = px.read_schemas(df)
    assert len(schemas) == 1, schemas  # one scan of documents
    assert "text" in schemas[0]  # the payload source column IS read here
    plan = px.physical_plan(df)
    assert plan.count("MapInPandas") == 1, plan


def test_bucketed_join_has_no_exchange_under_join(spark, tmp_path):
    from automotive_big_data_analysis_spark.sources import bucketed as bk

    bk.write_bucketed_tables(
        spark, SF, database="bk_test", location=str(tmp_path / "wh")
    )
    df = bk.bucketed_join_revenue(spark, database="bk_test")
    plan = px.physical_plan(df)
    assert "SortMergeJoin" in plan
    # the join keys never shuffle: bucket i joins bucket i in place; the
    # only Exchange allowed is the post-aggregation one on o_orderpriority
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # correctness unchanged by layout
    got = {r.o_orderpriority: r.n_lines for r in df.collect()}
    assert sum(got.values()) == 6000
    # simulate a fresh session: catalog forgets the tables, files remain;
    # re-registration must be DDL-only and keep the exchange-free plan
    spark.sql("DROP TABLE bk_test.orders_b")
    spark.sql("DROP TABLE bk_test.lineitem_b")
    bk.write_bucketed_tables(
        spark, SF, database="bk_test", location=str(tmp_path / "wh")
    )
    df2 = bk.bucketed_join_revenue(spark, database="bk_test")
    plan2 = px.physical_plan(df2)
    assert "Exchange hashpartitioning(l_orderkey" not in plan2
    assert "Exchange hashpartitioning(o_orderkey" not in plan2
    assert {r.o_orderpriority: r.n_lines for r in df2.collect()} == got


def test_year_partitioned_orders_prune(spark, tmp_path):
    from automotive_big_data_analysis_spark.sources import tables as tb

    path = str(tmp_path / "orders_by_year")
    tb.write_year_partitioned_orders(spark, SF, path)
    df = tb.read_partitioned_orders(spark, path).where("o_year = 1996")
    plan = px.physical_plan(df)
    assert "PartitionFilters" in plan and "o_year" in plan
    # pruned scan must touch only the 1996 directory
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "1996" in m.group(1)
    got = df.count()
    full = tb.read_partitioned_orders(spark, path).count()
    assert 0 < got < full


def test_knn_pq_broadcasts_query_table_over_stored_codes(spark):
    """PQ: the encode pass runs once per corpus snapshot into the STORED
    code table — the search plan reads code FILES (never re-encoding the
    corpus: no training/encode subtree, so no tokenizer-class recompute)
    and broadcasts only the query distance-lookup table."""
    df = similarity.knn_pq(spark, SF)
    plan = px.physical_plan(df)
    assert px.broadcast_join_count(df) >= 1  # the query lookup table
    assert "pq_codes" in plan  # the stored code-table scan


def test_ivf_codebook_fixed_k_and_broadcast(spark):
    """IVF scale shape (round-4 flag, re-derived round 9): the coarse
    codebook is TRAINED at the corpus-derived K ≈ 2·√N (sublinear — the
    round-8 frontier showed the old linear-with-N effective cell count
    decayed recall at fixed nprobe), so the |corpus| x |cells|
    assignment pass is O(N^1.5) at build and the codebook side must be
    broadcast in both the trainer rounds and the search, never shuffled
    against the corpus."""
    similarity.release()
    p = similarity.ivf_params(spark, SF)
    assert p.k <= similarity.IVF_K_MAX  # clamped, never corpus-linear
    cb = similarity._codebook(spark, SF)
    # ≤ K cells (Lloyd may drop emptied clusters), never corpus-sized
    assert 0 < cb.count() <= p.k < p.n
    df = similarity.knn_ivf(spark, SF)
    # probes + queries broadcast in the search; the trainer's rounds are
    # behind the codebook checkpoint
    assert px.broadcast_join_count(df) >= 2
    plan = px.physical_plan(df)
    assert "CartesianProduct" not in plan


def test_forecast_revenue_pushes_all_predicates(spark):
    """Q6's whole point is scan-side evaluation: all three predicate
    families must reach the parquet scan, and only the four referenced
    columns may be read."""
    from automotive_big_data_analysis_spark.operators import relational_tpch3

    df = relational_tpch3.forecast_revenue_change(spark, SF)
    pushed = " ".join(px.pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    schemas = " ".join(px.read_schemas(df))
    assert "l_extendedprice" in schemas
    assert "l_orderkey" not in schemas


def test_retention_broadcasts_cohort_sizes(spark):
    """Cohort retention: the per-cohort size dimension is tiny and must
    broadcast; nothing scales with raw events past the first partial
    aggregate (no join against the raw event scan)."""
    from automotive_big_data_analysis_spark.operators import analytics

    df = analytics.user_retention(spark, SF)
    assert px.broadcast_join_count(df) >= 1
    assert px.has_partial_aggregation(df)


def test_length_gate_broadcasts_bounds_and_prunes(spark):
    """The P5/P95 bounds table is |langs| rows — broadcast; the gate scan
    reads only (lang, n_chars), never the document text."""
    from automotive_big_data_analysis_spark.operators import analytics

    df = analytics.doc_length_gate(spark, SF)
    assert px.broadcast_join_count(df) >= 1
    schemas = " ".join(px.read_schemas(df))
    assert "text" not in schemas


def test_hourly_anomalies_broadcasts_moments(spark):
    from automotive_big_data_analysis_spark.operators import analytics

    df = analytics.hourly_anomalies(spark, SF)
    assert px.broadcast_join_count(df) >= 1
    assert "CartesianProduct" not in px.physical_plan(df)


def test_cdc_chunks_single_wide_shuffle(spark):
    """CDC chunking: one narrow exchange stages boundaries (so chunk
    extraction binds `bounds` as an attribute), one hash shuffle
    aggregates chunk keys — nothing else."""
    from automotive_big_data_analysis_spark.operators import dedup

    df = dedup.cdc_chunk_stats(spark, SF)
    # repartition exchange + aggregation exchange (+ possibly AQE reads);
    # the point is there's no join and no extra wide shuffle
    plan = px.physical_plan(df)
    assert "Join" not in plan
    assert px.shuffle_count(df) <= 3


def test_rfm_segments_no_global_window_over_customers(spark):
    """Round-5 VERDICT flag: the three quartiles must come from the
    two-pass range-bucket rank — no NTILE, and (since the round-7
    literal-offsets rework) NO unpartitioned window at all: the offset
    aggregate is collected driver-side and inlined, so the only windows
    left are the bucket-PARTITIONED ranks."""
    from automotive_big_data_analysis_spark.operators import analytics

    df = analytics.rfm_segments(spark, SF)
    plan = px.physical_plan(df)
    assert "ntile(" not in plan
    assert px.unpartitioned_window_specs(df) == []
    assert any("_bk" in s.split(",")[0] for s in px.window_specs(df))


def test_order_value_deciles_no_global_window_over_orders(spark):
    """Same flag for the decile query: orders must never funnel through
    a single-partition sort; ranks are bucket-partitioned windows and
    the offsets are literals (no unpartitioned window anywhere)."""
    from automotive_big_data_analysis_spark.operators import relational_tpch as rt

    df = rt.order_value_deciles(spark, SF)
    plan = px.physical_plan(df)
    assert "ntile(" not in plan
    assert px.unpartitioned_window_specs(df) == []
    # the per-bucket rank window IS partitioned (by the bucket id)
    assert any("_bk" in s.split(",")[0] for s in px.window_specs(df))


def test_unpartitioned_window_detector_not_vacuous(spark):
    """The detector must flag a genuinely global window and pass a
    partitioned one."""
    from automotive_big_data_analysis_spark.catalog import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    orders = load_table(spark, SF, "orders")
    bad = orders.select(
        F.row_number().over(Window.orderBy("o_totalprice")).alias("r")
    )
    assert len(px.unpartitioned_window_specs(bad)) == 1
    ok = orders.select(
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_totalprice"))
        .alias("r")
    )
    assert len(px.unpartitioned_window_specs(ok)) == 0


def test_explode_infers_a_filter_only_for_a_bare_attribute(spark):
    """The rule the text families rely on (Spark 4.1): explode of an
    EXPRESSION infers no filter, while explode of a bare attribute
    infers ``size(x) > 0``, which Catalyst pushes below the staging
    exchange as a per-row re-run of the tokenizer."""
    from automotive_big_data_analysis_spark.catalog import load_table, spread
    from automotive_big_data_analysis_spark.functions import text as tx
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    staged = spread(docs.select(tx.tokens("text").alias("toks")))
    expr = staged.select(F.explode(tx.ngrams("toks", 1)).alias("w"))
    assert px.filters_containing(expr, "regexp_extract_all") == 0
    bare = staged.select(F.explode(F.col("toks")).alias("w"))
    assert px.filters_containing(bare, "regexp_extract_all") >= 1


def test_generate_paths_keep_tokenizer_out_of_filters(spark):
    """Regression guard for the explode inferred-filter pathology:
    explode of a bare attribute infers a size>0 filter that Catalyst
    pushes below the staging exchange, re-running the tokenizer regexp
    (or the JSON parse) per row (measured 14x on the 8-gram explode).
    Every generate path here explodes an expression instead. The guard
    reads the FORMATTED plan — toString elides long filter conditions,
    which would make the assertion vacuous."""
    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.operators import (
        dedup,
        events,
        rag_prep,
        text_analysis,
        training_prep,
    )

    dedup.release()
    dfs = [
        dedup._shingle_df(load_table(spark, SF, "documents")),
        dedup.duplicate_span_stats(spark, SF),
        text_analysis.word_topk(spark, SF),
        text_analysis.tfidf_topterms(spark, SF),
        text_analysis.collocation_lift(spark, SF),
        text_analysis.repetition_stats(spark, SF),
        text_analysis.unigram_surprisal(spark, SF),
        text_analysis.lang_trigram_confusion(spark, SF),
        training_prep.contamination_stats(spark, SF),
        training_prep.bpe_pair_stats(spark, SF),
        rag_prep.docs_chunk_stats(spark, SF),
    ]
    for df in dfs:
        assert px.filters_containing(df, "regexp_extract_all") == 0
    props = events.props_key_rollup(spark, SF)
    assert px.filters_containing(props, "from_json") == 0
    # the registered BM25 plan reads the checkpointed postings, so the
    # postings frame is checked as it is before its checkpoint
    postings = rag_prep._postings(spark, SF)
    assert px.filters_containing(postings, "regexp_extract_all") == 0
    assert px.physical_plan(postings).count("regexp_extract_all") == 1
    dedup.release()


def test_inferred_filter_detector_not_vacuous(spark):
    """The Condition-line restriction (round-4 advice) must not blind the
    detector: a Filter whose CONDITION evaluates the tokenizer must be
    flagged, while a plan that merely carries a token array through its
    Input/Output attribute lists must not."""
    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.functions import text as tx
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    bad = docs.where(F.size(tx.tokens("text")) > 3).select("doc_id")
    assert px.filters_containing(bad, "regexp_extract_all") >= 1
    # attribute-list-only appearance: filter on an unrelated column while
    # the tokenizer output is a projected attribute
    ok = (
        docs.select("doc_id", "n_chars", tx.tokens("text").alias("toks"))
        .where(F.col("n_chars") > 10)
    )
    assert px.filters_containing(ok, "regexp_extract_all") == 0


def test_salted_severity_join_spreads_hot_key(spark):
    """The salted join must (a) replicate the dimension via explode, (b)
    shuffle the big side on (key, salt) — never on the bare 5-value hot
    key — and (c) stay result-identical to the plain join."""
    from automotive_big_data_analysis_spark.operators import relational_ext as re_

    df = re_.salted_severity_join(spark, SF)
    plan = px.physical_plan(df)
    assert "explode" in plan.lower()
    import re as _re

    exchanges = _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    salted = [e for e in exchanges if "event_type" in e and "_salt" in e]
    assert len(salted) >= 2, exchanges  # both join inputs carry the salt
    # the join itself keys on (event_type, _salt), spreading each hot key
    # over the salt fan-out
    join_line = next(ln for ln in plan.splitlines() if "ShuffledHashJoin" in ln)
    assert "_salt" in join_line and "event_type" in join_line
    # correctness: identical to the unsalted formulation
    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.functions import exact as ex
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events").select("event_type", "value")
    sev = (
        ev.select("event_type")
        .distinct()
        .select("event_type", re_._severity_case().alias("severity"))
    )
    plain = (
        ev.join(sev, "event_type")
        .groupBy("severity")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            ex.dsum("value", 6).alias("total_value"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))


def test_incremental_dedup_reads_stored_pair_index(spark):
    """The nightly-batch shape: once the pair index is stored, the
    incremental query's plan scans index FILES — no shingle recompute
    (no tokenizer anywhere in the plan), no join against history
    bodies."""
    from automotive_big_data_analysis_spark.operators import dedup

    dedup.pair_index_table(spark, SF)  # ensure built
    dedup.release()  # drop session memos: the plan must not need them
    df = dedup.incremental_dedup_stats(spark, SF)
    plan = px.physical_plan(df)
    assert "ngram_pairs" in plan  # the stored index scan
    assert "regexp_extract_all" not in px.formatted_plan(df)
    assert "shingle" not in plan
    # result parity with the in-session pair list
    from pyspark.sql import functions as F

    stored = dedup.pair_index_table(spark, SF).select("doc_a", "doc_b")
    fresh = dedup.ngram_jaccard_pairs(spark, SF).select("doc_a", "doc_b")
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, fresh.collect())
    )
    dedup.release()


def test_collocation_reads_only_text(spark):
    """Collocation tokenizes one column — the scan must never read
    doc_id/lang/source payloads, and counts must combine map-side."""
    from automotive_big_data_analysis_spark.operators import text_analysis as ta

    df = ta.collocation_lift(spark, SF)
    schemas = " ".join(px.read_schemas(df))
    assert "text" in schemas
    assert "lang" not in schemas and "source" not in schemas
    assert px.has_partial_aggregation(df)
    assert px.filters_containing(df, "regexp_extract_all") == 0


def test_minhash_reads_stored_fingerprints_no_tokenizer(spark):
    """Once the shingle fingerprint table and banded candidate list are
    stored, a MinHash verification pass reads index FILES — no tokenizer
    anywhere in the plan, candidates scanned from the stored table."""
    from automotive_big_data_analysis_spark.operators import dedup

    dedup.pair_index_table(spark, SF)  # ensures the family's index exists
    df = dedup.minhash_lsh_pairs(spark, SF)  # builds candidates if absent
    dedup.release()
    df = dedup.minhash_lsh_pairs(spark, SF)
    plan = px.physical_plan(df)
    assert "minhash_candidates" in plan and "shingles" in plan
    assert px.filters_containing(df, "regexp_extract_all") == 0
    assert "regexp_extract_all" not in px.formatted_plan(df)


def test_ivfpq_rerank_reads_stored_indexes_no_retraining(spark):
    """The three-stage pipeline must be pure index-read at search time:
    the plan scans the stored postings (cells), the stored code table,
    and the stored sub-codebook — no Lloyd-training subtree re-runs (the
    trainer's posexplode/collect_list shapes are absent because every
    trained structure is behind a stored-table file scan) — and the
    shortlist's exact pass broadcasts only query-sized relations."""
    df = similarity.knn_ivfpq_rerank(spark, SF)
    plan = px.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "pq_codes" in plan  # stored code table scan
    assert "cells" in plan  # stored postings scan
    assert px.broadcast_join_count(df) >= 2  # probes + ADC lookup + qv


def test_recall_tradeoff_single_scoring_pass_per_method(spark):
    """Two-part contract since the frontier became a stored artifact:
    (a) the REGISTERED query reads the materialized recall_frontier
    index files — no embeddings scan, no scoring joins (before this,
    tradeoff and operating_point each re-ran the full scoring pass for
    identical rows); (b) the BUILD frame itself must still not
    re-search per probe level: the level dimension is an explode over
    already-scored candidates — no cartesian anywhere, probe/mask
    relations broadcast."""
    df = similarity.knn_recall_tradeoff(spark, SF)
    plan = px.physical_plan(df)
    assert "recall_frontier" in plan
    assert "embeddings.parquet" not in plan  # materialized read
    build = similarity._recall_tradeoff_frame(spark, SF)
    build_plan = px.physical_plan(build)
    assert "CartesianProduct" not in build_plan
    assert px.broadcast_join_count(build) >= 3


def test_knn_lsh_reads_stored_postings_no_corpus_join(spark):
    """LSH searches must read the stored postings (sig, vec_id, v) and
    nothing else: no per-query re-hash of the corpus, and no join back
    to the embeddings table (the postings carry the vector payload, so
    the only join in the plan is the broadcast of the query probes)."""
    df = similarity.knn_lsh(spark, SF)
    plan = px.physical_plan(df)
    assert "lsh_postings" in plan
    assert "embeddings.parquet" not in plan  # index-only search
    assert px.broadcast_join_count(df) >= 1


def test_bloom_prune_fact_side_never_shuffles_before_filter(spark):
    """The Bloom probe must be map-side: orders flow through broadcast
    lookups only — the single shuffle in the whole plan is the final
    1-row accounting aggregate, never an exchange of the fact keyed for
    a join."""
    from automotive_big_data_analysis_spark.operators import relational_ext as rx

    df = rx.bloom_prune_join_stats(spark, SF)
    plan = px.physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert px.broadcast_join_count(df) >= 3  # 2 hash tables + truth + build_n
    # only aggregate exchanges (partial->final), no join-key exchange
    assert px.shuffle_count(df) <= 2


def test_bm25_builds_postings_with_one_staged_tokenizer(spark):
    """BM25's postings build must tokenize once behind the staging
    exchange (never re-inlined per posting), combine map-side, and keep
    the scan text-only."""
    from automotive_big_data_analysis_spark.operators import rag_prep as rp

    df = rp.docs_bm25_topk(spark, SF)
    plan = px.physical_plan(df)
    # postings are checkpointed once: the tokenizer and the parquet scan
    # must be GONE from the consuming plan (four consumers read the
    # materialized index, not the corpus)
    assert plan.count("regexp_extract_all") == 0
    assert "Scan parquet" not in plan
    assert px.has_partial_aggregation(df)
    assert not px.unpartitioned_window_specs(df)  # top-k via TakeOrdered
    assert "TakeOrdered" in plan


def test_cms_sketch_aggregates_with_partial_combine(spark):
    """The CMS build must partial-combine (shuffle bounded by the
    DEPTH x WIDTH cell vocabulary, not the event stream)."""
    from automotive_big_data_analysis_spark.operators import analytics as an

    df = an.heavy_hitters_cms(spark, SF)
    assert px.has_partial_aggregation(df)
    assert not px.unpartitioned_window_specs(df)
    # one scan builds the sketch, one scores it — the per-depth probe
    # must ride ONE (d, bucket) join, never re-derive cells per hash row
    assert len(px.read_schemas(df)) <= 2


def test_rollup_hierarchy_rescans_fact_once(spark):
    """The three-tier rollup reads the fact table exactly once — hour
    and day tiers aggregate the previous tier's partials, never the
    events scan."""
    from automotive_big_data_analysis_spark.operators import events as ev

    df = ev.rollup_hierarchy(spark, SF)
    assert len(px.read_schemas(df)) == 1
    assert px.has_partial_aggregation(df)


def test_frame_exec_reads_payload_exactly_once(spark):
    """The frame EXECUTOR is the stage that pays decode: its plan must
    scan the documents payload exactly once and push it through exactly
    one Arrow mapInPandas stage — no re-read, no self-join."""
    from automotive_big_data_analysis_spark.operators import multimodal as mm

    df = mm.frame_exec_stats(spark, SF)
    schemas = px.read_schemas(df)
    assert len(schemas) == 1, schemas  # one scan of documents
    assert "text" in schemas[0]  # the payload source column IS read here
    plan = px.physical_plan(df)
    assert plan.count("MapInPandas") == 1, plan


def test_lsh_multitable_probes_read_stored_signatures(spark):
    """Round-14 pin: knn_lsh_multitable's probe side must read the
    query signatures FROM the stored multi-table postings — never
    re-derive them from the embeddings (the old shape re-scanned and
    round-robin-spread the embeddings once PER TABLE inside the
    broadcast build, and its plane-literal expression tree cost ~2 s of
    driver latency per invocation)."""
    df = similarity.knn_lsh_multitable(spark, SF)
    plan = px.physical_plan(df)
    # no probe-side re-derivation: no round-robin spread of the query
    # slice, no raw-embeddings scan anywhere in the plan
    assert "RoundRobinPartitioning" not in plan, plan
    assert "embeddings.parquet" not in plan, plan
    # both join sides come from the stored postings table
    assert plan.count("lsh_mt_postings") >= 2, plan
