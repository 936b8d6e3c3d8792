"""RAG chunking invariants: chunk accounting against a per-document
Python recomputation, dedup bounds, and the staged-tokenizer plan shape."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table
from automotive_big_data_analysis_spark.operators import rag_prep as rp
from automotive_big_data_analysis_spark.plans import explain as px

SF = "/root/testdata/sf0.001"


def _python_chunks(text: str) -> list[tuple[str, int]]:
    toks = text.split()
    out = []
    for s in range(0, len(toks), rp.CHUNK_STRIDE):
        window = toks[s : s + rp.CHUNK_TOKENS]
        out.append(
            (
                hashlib.md5(" ".join(window).encode()).hexdigest(),
                len(window),
            )
        )
    return out


def test_chunk_stats_match_python_recomputation(spark):
    docs = load_table(spark, SF, "documents").select("lang", "text").collect()
    want: dict[str, dict] = {}
    for r in docs:
        acc = want.setdefault(
            r.lang, {"n_docs": 0, "n_chunks": 0, "tokens": 0, "hashes": set()}
        )
        acc["n_docs"] += 1
        for h, sz in _python_chunks(r.text):
            acc["n_chunks"] += 1
            acc["tokens"] += sz
            acc["hashes"].add(h)
    rows = rp.docs_chunk_stats(spark, SF).collect()
    assert {r.lang for r in rows} == set(want)
    for r in rows:
        w = want[r.lang]
        assert r.n_docs == w["n_docs"]
        assert r.n_chunks == w["n_chunks"]
        assert r.chunk_tokens == w["tokens"]
        assert r.n_distinct_chunks == len(w["hashes"])
        assert r.avg_chunk_tokens == round(w["tokens"] / w["n_chunks"], 6)


def test_chunk_dedup_is_bounded_and_fill_is_sane(spark):
    for r in rag_rows(spark):
        assert 0 < r.n_distinct_chunks <= r.n_chunks
        assert 0 < r.avg_chunk_tokens <= rp.CHUNK_TOKENS


def rag_rows(spark):
    return rp.docs_chunk_stats(spark, SF).collect()


def test_chunking_tokenizes_once_behind_the_staging_exchange(spark):
    # the tokenizer regexp must appear in exactly one projection (before
    # the staging exchange); projection collapse re-inlining it into the
    # chunk lambdas would re-tokenize per chunk (O(tokens^2) per doc)
    plan = px.physical_plan(rp.docs_chunk_stats(spark, SF))
    assert plan.count("regexp_extract_all") == 1
    assert px.has_partial_aggregation(rp.docs_chunk_stats(spark, SF))


def test_bm25_ranks_term_stuffed_doc_first(spark, tmp_path):
    from automotive_big_data_analysis_spark.operators import rag_prep as rp

    rows = [
        (0, "alpha alpha alpha alpha beta gamma", "en", "s", 34),
        (1, "alpha beta gamma delta epsilon zeta", "en", "s", 36),
        (2, "alpha beta omega kappa sigma theta", "en", "s", 34),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    try:
        out = rp.docs_bm25_topk(spark, str(tmp_path)).collect()
    finally:
        rp.release(str(tmp_path))
    # query terms (top-3 global alpha terms): alpha(6), beta(3), gamma(2);
    # every doc matches at least one, all equal length -> tf decides.
    assert [r.doc_id for r in out] == [0, 1, 2]
    assert out[0].bm25 > out[1].bm25 > out[2].bm25 > 0
    assert all(r.dl == 6 for r in out)


def test_hybrid_rrf_fuses_both_retrievers(spark, tmp_path):
    from pyspark.sql import functions as F

    from automotive_big_data_analysis_spark.operators import rag_prep as rp

    # 4 docs; embeddings make doc 3 the nearest dense neighbor of the
    # BM25 winner (doc 0) even though doc 3 shares no query terms.
    docs = [
        (0, "alpha alpha alpha alpha beta gamma", "en", "s", 34),
        (1, "alpha beta gamma delta epsilon zeta", "en", "s", 36),
        (2, "alpha beta omega kappa sigma theta", "en", "s", 34),
        (3, "nothing lexical overlaps here folks okay", "en", "s", 40),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    emb = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0], 0),
        (3, [0.9, 0.1, 0.0], 0),  # closest to doc 0's embedding
    ]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    try:
        out = rp.docs_hybrid_rrf(spark, str(tmp_path)).collect()
    finally:
        rp.release(str(tmp_path))
    rows = {r.doc_id: r for r in out}
    # doc 0 tops both lists: rrf = 1/61 + 1/61
    assert rows[0].bm25_rank == 1 and rows[0].cos_rank == 1
    assert rows[0].rrf_score == round(2 / 61, 6)
    assert out[0].doc_id == 0
    # doc 3 has NO bm25 rank (no query terms) but a dense rank of 2
    assert rows[3].bm25_rank is None and rows[3].cos_rank == 2
    assert rows[3].rrf_score == round(1 / 62, 6)
    # every fused score is the sum of its two reciprocal contributions
    for r in out:
        want = (1 / (60 + r.bm25_rank) if r.bm25_rank else 0.0) + (
            1 / (60 + r.cos_rank) if r.cos_rank else 0.0
        )
        assert r.rrf_score == round(want, 6)


def test_bm25_postings_memo_shared_across_consumers(spark, tmp_path):
    """The checkpointed postings build must happen once per (session,
    corpus snapshot): a second consumer gets the SAME materialized
    frame from the session memo, and release() drops it."""
    from automotive_big_data_analysis_spark.operators import rag_prep as rp

    rows = [(0, "alpha beta gamma delta", "en", "s", 22)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    memo = vars(spark)["_abda_table_memo"]
    key = (str(tmp_path), "documents", "bm25_postings")
    rp._bm25_scores(spark, str(tmp_path)).collect()
    first = memo[key][1]
    rp._bm25_scores(spark, str(tmp_path)).collect()
    assert memo[key][1] is first
    assert rp.release(str(tmp_path)) == 1
    assert key not in memo


def test_release_frees_the_checkpointed_postings(spark, tmp_path):
    """release() must free the executor blocks it claims to: the
    postings are a localCheckpoint, whose blocks ``unpersist()`` on the
    frame does not reach. The same holds when a corpus rewrite replaces
    the entry."""
    from automotive_big_data_analysis_spark.operators import rag_prep as rp

    jsc = spark.sparkContext._jsc.sc()

    def cached_rdds():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/documents.parquet")

    write([(0, "alpha alpha beta gamma delta epsilon", "en", "s", 36)])
    baseline = cached_rdds()
    rp.docs_bm25_topk(spark, str(tmp_path)).collect()
    assert len(cached_rdds() - baseline) == 1
    assert rp.release(str(tmp_path)) == 1
    assert cached_rdds() <= baseline  # unrelated blocks may be cleaned
    rp.docs_bm25_topk(spark, str(tmp_path)).collect()
    built = cached_rdds() - baseline
    write([(7, "omega omega kappa sigma theta", "en", "s", 29)])
    rp.docs_bm25_topk(spark, str(tmp_path)).collect()  # replaces the entry
    rebuilt = cached_rdds() - baseline
    assert len(rebuilt) == 1 and rebuilt != built
    assert rp.release(str(tmp_path)) == 1
    assert cached_rdds() <= baseline


def test_release_invalidates_postings_after_in_session_corpus_rewrite(
    spark, tmp_path
):
    """A corpus rewritten under the same sf_dir within one application
    must not serve stale checkpointed postings, with no release() call:
    the memo entry is keyed on the corpus fingerprint."""
    from automotive_big_data_analysis_spark.operators import rag_prep as rp

    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/documents.parquet")

    write([(0, "alpha alpha beta gamma delta epsilon", "en", "s", 36)])
    first = rp.docs_bm25_topk(spark, str(tmp_path)).collect()
    assert [r.doc_id for r in first] == [0]
    # rewrite the corpus in-session: different docs, different top terms
    write(
        [
            (7, "omega omega omega kappa sigma theta", "en", "s", 36),
            (8, "omega kappa sigma zeta lambda mubar", "en", "s", 36),
        ]
    )
    fresh = rp.docs_bm25_topk(spark, str(tmp_path)).collect()
    assert {r.doc_id for r in fresh} == {7, 8}  # stale memo would say {0}
    rp.release(str(tmp_path))
