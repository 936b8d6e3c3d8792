"""Dedup-family semantics on crafted near-duplicate documents.

The oracle harness checks corpus parity; these tests pin the *semantics*:
which pairs are found, what survives the keep-list, signature stability.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.operators import dedup

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)
NEAR = BASE.replace("theta", "THETA-X")  # one token changed
FAR = "completely different words with no shared trigrams at all here now"


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("docs"))
    rows = [
        (0, BASE, "en", "srcA", len(BASE)),
        (1, NEAR, "en", "srcA", len(NEAR)),
        (2, FAR, "en", "srcB", len(FAR)),
        (3, BASE, "en", "srcB", len(BASE)),  # exact duplicate of 0
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    return path


def test_exact_stats(spark, doc_dir):
    row = dedup.exact_stats(spark, doc_dir).first()
    assert row.n_docs == 4
    assert row.n_unique == 3
    assert row.n_exact_dups == 1


def test_ngram_pairs_find_planted(spark, doc_dir):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, doc_dir).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in pairs and 0.6 <= pairs[(0, 1)] < 1.0  # near dup
    assert (1, 3) in pairs
    assert not any(2 in p for p in pairs)  # FAR is not a dup of anything


def test_minhash_matches_exhaustive(spark, doc_dir):
    exhaustive = set(
        (r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(spark, doc_dir).collect()
    )
    lsh = set(
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(spark, doc_dir).collect()
    )
    # LSH candidates are a subset; for near-identical docs recall is full
    assert lsh == exhaustive


def test_keep_stats_greedy(spark, doc_dir):
    got = {r.lang: r for r in dedup.keep_list_stats(spark, doc_dir).collect()}
    # docs 1 and 3 both near-dup doc 0 → removed; 0 and 2 kept
    assert got["en"].n_docs == 4
    assert got["en"].n_kept == 2
    assert got["en"].n_removed == 2


def test_simhash_groups_exact_dups(spark, doc_dir):
    groups = dedup.simhash_groups(spark, doc_dir).collect()
    # identical token sets (docs 0 and 3) must share a signature
    assert any(g.min_doc == 0 and g.max_doc >= 3 for g in groups)


def test_quality_report_counts(spark, doc_dir):
    got = {
        r.method: r
        for r in dedup.candidate_quality_report(spark, doc_dir).collect()
    }
    assert set(got) == {"minhash_lsh", "simhash"}
    # truth = the three planted pairs (0,1) (0,3) (1,3)
    assert got["minhash_lsh"].n_truth == 3
    # near-identical docs: banded LSH catches every truth pair here
    assert got["minhash_lsh"].n_tp == 3
    assert got["minhash_lsh"].recall == 1.0
    # identical token sets (0,3) share a SimHash signature → at least
    # that one true positive; whole-signature equality never exceeds
    # the candidate count
    sim = got["simhash"]
    assert sim.n_tp >= 1
    assert sim.n_tp <= sim.n_candidates
    for row in got.values():
        assert 0.0 <= row.precision <= 1.0
        assert 0.0 <= row.recall <= 1.0


def test_components_merge_chains(spark, tmp_path_factory):
    """A~B and B~C but A≁C: connected components must still put all three
    in ONE cluster (transitive closure), sized 3."""
    from automotive_big_data_analysis_spark.operators import dedup as dd

    path = str(tmp_path_factory.mktemp("chain"))
    mk = lambda lo, hi: " ".join(f"t{i}" for i in range(lo, hi))
    rows = [
        (1, mk(1, 21), "en", "s", 0),   # tokens t1..t20
        (2, mk(5, 25), "en", "s", 0),   # overlap 16 with d1 → J=14/22≈0.64
        (3, mk(9, 29), "en", "s", 0),   # J(2,3)≈0.64, J(1,3)≈0.38 < 0.6
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    # sanity: the pair graph is exactly the chain
    pairs = {(r.doc_a, r.doc_b) for r in dd.ngram_jaccard_pairs(spark, path).collect()}
    assert pairs == {(1, 2), (2, 3)}
    comps = dd.duplicate_components(spark, path).collect()
    assert [(r.component, r.n_docs, r.min_doc, r.max_doc) for r in comps] == [
        (1, 3, 1, 3)
    ]


# --- content-defined chunking ------------------------------------------------

# ~2k chars of deterministic pseudo-random letters/spaces (LCG): enough
# entropy that rolling-hash sync points occur at the expected ~CDC_MASK
# spacing (a regular repeating pattern yields almost no sync points)
def _lcg_text(n: int, seed: int = 12345) -> str:
    s, out = seed, []
    for _ in range(n):
        s = (s * 1103515245 + 12345) % (2**31)
        out.append(" " if s % 7 == 0 else chr(ord("a") + s % 26))
    return "".join(out)


LONG = _lcg_text(2000)


@pytest.fixture(scope="module")
def cdc_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cdc_docs"))
    rows = [
        (0, LONG, "en", "srcA", len(LONG)),
        # prefix insertion: fixed-size chunking would shift every chunk;
        # content-defined boundaries resync after the first sync point
        (1, "inserted preamble that shifts offsets " + LONG, "en", "srcA", 0),
        (2, "tiny", "en", "srcB", 4),  # shorter than the hash window
        (3, "", "en", "srcB", 0),  # empty doc → no chunks
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    return path


def test_cdc_chunks_survive_prefix_insertion(spark, cdc_dir):
    row = dedup.cdc_chunk_stats(spark, cdc_dir).first()
    # docs 0 and 1 differ at every byte offset, yet share content-defined
    # chunks — duplicate chunks prove the boundaries resynced
    assert row.n_dup_chunks >= 3
    # the sub-window doc contributes its whole text as one chunk; the
    # empty doc contributes none
    assert row.n_chunks > row.n_dup_chunks


def test_cdc_short_and_empty_docs(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cdc_edge"))
    rows = [(0, "tiny", "en", "s", 4), (1, "", "en", "s", 0)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    row = dedup.cdc_chunk_stats(spark, path).first()
    assert row.n_chunks == 1 and row.n_unique == 1  # 'tiny' only


# --- shared-intermediate lifecycle -------------------------------------------


BASE2 = (
    "rojo azul verde amarillo morado naranja blanco negro gris rosa "
    "uno dos tres cuatro cinco seis siete ocho nueve diez"
)
NEAR2 = BASE2.replace("cinco", "CINCO-X")


def _derived_keys(spark, sf_dir):
    """The session memo's derived (non-scan) entries for ``sf_dir``."""
    memo = vars(spark).get("_abda_table_memo", {})
    return [k for k in memo if k[0] == sf_dir and k[2] != "scan"]


def test_release_then_reuse_rebuilds(spark, doc_dir, tmp_path_factory):
    """An index build leaves nothing session-resident: building a FRESH
    corpus's index stores it as files, release() has nothing of it to
    drop, and consumers keep serving identical results afterwards from
    the stored index."""
    import shutil

    fresh = str(tmp_path_factory.mktemp("fresh_docs"))
    shutil.copytree(
        f"{doc_dir}/documents.parquet", f"{fresh}/documents.parquet"
    )
    before = dedup.ngram_jaccard_pairs(spark, fresh).collect()
    assert _derived_keys(spark, fresh) == []
    assert dedup.release(fresh) == 0
    after = dedup.ngram_jaccard_pairs(spark, fresh).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert _derived_keys(spark, fresh) == []


def test_cache_evicts_on_corpus_change(spark, doc_dir, tmp_path_factory):
    """Touching a different corpus keeps neither corpus's build
    resident, and each corpus is served its own pairs."""
    dedup.ngram_jaccard_pairs(spark, doc_dir).count()
    other = str(tmp_path_factory.mktemp("other_docs"))
    rows = [(0, BASE, "en", "s", len(BASE)), (1, BASE, "en", "s", len(BASE))]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{other}/documents.parquet")
    got = dedup.ngram_jaccard_pairs(spark, other).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(0, 1)]
    assert _derived_keys(spark, doc_dir) == []
    assert _derived_keys(spark, other) == []


def test_pairs_follow_an_in_session_corpus_rewrite(spark, tmp_path):
    """Rewriting documents.parquet in place, with no release() call, must
    serve the NEW corpus's pairs — and the generation written for it
    must hold them too, so a new session reads the same pairs."""
    path = str(tmp_path)
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/documents.parquet")

    write(
        [
            (0, BASE, "en", "s", len(BASE)),
            (1, NEAR, "en", "s", len(NEAR)),
            (2, FAR, "en", "s", len(FAR)),
            (3, BASE, "en", "s", len(BASE)),
        ]
    )
    old = dedup.ngram_jaccard_pairs(spark, path).collect()
    assert sorted((r.doc_a, r.doc_b) for r in old) == [(0, 1), (0, 3), (1, 3)]
    write(
        [
            (10, BASE2, "en", "s", len(BASE2)),
            (11, NEAR2, "en", "s", len(NEAR2)),
            (12, FAR, "en", "s", len(FAR)),
        ]
    )
    new = dedup.ngram_jaccard_pairs(spark, path).collect()
    assert sorted((r.doc_a, r.doc_b) for r in new) == [(10, 11)]
    again = dedup.ngram_jaccard_pairs(spark.newSession(), path).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, new))




def test_incremental_dedup_policy(spark, tmp_path_factory):
    """Crafted split exercising all three outcomes: drop-vs-history,
    drop-within-batch (smaller-id partner also incoming), and admitted.
    INCOMING_MOD=5, so doc_ids 0/5/10/15 are incoming, others history."""
    path = str(tmp_path_factory.mktemp("incdocs"))
    rows = [
        # incoming 0 near-dups history 1 -> dropped_history
        (0, BASE, "en", "s", len(BASE)),
        (1, BASE, "en", "s", len(BASE)),
        # incoming 5 and 10 near-dup EACH OTHER only (a token set
        # disjoint from BASE): 5 admitted (no smaller incoming partner),
        # 10 dropped_batch
        (5, BASE2, "en", "s", len(BASE2)),
        (10, NEAR2, "en", "s", len(NEAR2)),
        # incoming 15 matches nothing -> admitted
        (15, FAR, "en", "s", len(FAR)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    row = dedup.incremental_dedup_stats(spark, path).first()
    assert row.n_incoming == 4
    assert row.n_dropped_history == 1  # doc 0
    assert row.n_dropped_batch == 1  # doc 10 (partner 5 is smaller+incoming)
    assert row.n_admitted == 2  # docs 5 and 15
    dedup.release(path)


def test_corpus_overlap_extremes(spark, tmp_path_factory):
    """Identical shingle sets → est and exact Jaccard both 1.0; disjoint
    sets → both 0.0 (64 salted min-hashes agree exactly at the extremes)."""
    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    path = str(tmp_path_factory.mktemp("ovl"))
    rows = [
        (0, base, "en", "srcA", len(base)),
        (1, base, "en", "srcB", len(base)),   # srcB == srcA's shingles
        (2, other, "en", "srcC", len(other)),  # srcC disjoint from both
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    try:
        got = {
            (r.source_a, r.source_b): r
            for r in dedup.corpus_overlap_stats(spark, path).collect()
        }
    finally:
        dedup.release(path)
    ab = got[("srcA", "srcB")]
    assert ab.est_jaccard == 1.0 and ab.exact_jaccard == 1.0
    assert ab.n_inter == ab.n_shingles_a == ab.n_shingles_b
    for pair in (("srcA", "srcC"), ("srcB", "srcC")):
        assert got[pair].est_jaccard == 0.0
        assert got[pair].exact_jaccard == 0.0
        assert got[pair].n_inter == 0


def test_span_stats_counts_crossdoc_positions(spark, doc_dir):
    # BASE (docs 0 and 3, identical, 20 tokens) opens 5 spans each, all
    # cross-doc duplicated; NEAR differs at token 8, which every one of
    # its 5 spans covers, so none are shared; FAR has <16 tokens → none.
    rows = {r.lang: r for r in dedup.duplicate_span_stats(spark, doc_dir).collect()}
    en = rows["en"]
    assert en.n_span_positions == 15  # 5 + 5 + 5
    assert en.n_distinct_spans == 10  # BASE's 5 + NEAR's 5
    assert en.n_crossdoc_spans == 5
    assert en.dup_positions == 10  # doc 0's 5 + doc 3's 5
    assert en.dup_ratio == round(10 / 15, 6)


def test_span_stats_short_docs_emit_no_spans(spark, tmp_path):
    rows = [(0, "only five tokens right here", "en", "s", 28)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    assert dedup.duplicate_span_stats(spark, str(tmp_path)).count() == 0


def test_containment_report_catches_small_inside_big(spark, tmp_path):
    # SMALL is a verbatim 20-token substring of BIG: containment 1.0 but
    # Jaccard 18/58 ~= 0.31 < 0.6 -- exactly the Jaccard blind spot.
    big = " ".join(f"w{i}" for i in range(60))
    small = " ".join(f"w{i}" for i in range(20, 40))
    rows = [
        (0, big, "en", "s", len(big)),
        (1, small, "en", "s", len(small)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    dedup.release(str(tmp_path))
    row = dedup.containment_pairs(spark, str(tmp_path)).first()
    assert row.n_pairs_scored == 1
    assert row.n_blind_spot_pairs == 1
    assert row.n_full_containment == 1
    assert row.max_blind_containment == 1.0


def test_containment_blind_spot_empty_on_symmetric_dups(spark, doc_dir):
    # The fixture's duplicates are symmetric (Jaccard ~= containment), so
    # nothing hides below the Jaccard threshold at containment >= 0.8.
    row = dedup.containment_pairs(spark, doc_dir).first()
    assert row.n_blind_spot_pairs == 0
    assert row.n_full_containment >= 1  # the exact dup pair (0, 3)


def test_span_stats_agrees_with_naive_recomputation(spark, tmp_path):
    """Cross-check the span-lattice aggregation against a plain-Python
    recomputation on a corpus with partial overlaps (sliding windows of
    a shared token stream at several offsets)."""
    import hashlib
    from collections import defaultdict

    stream = [f"t{i % 37}" for i in range(120)]
    texts = [
        " ".join(stream[0:40]),
        " ".join(stream[8:56]),  # overlaps doc 0 by 32 tokens
        " ".join(stream[70:120]),  # disjoint region
        " ".join(stream[0:12]),  # too short for any 16-token span? no: 12 < 16
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    spans = defaultdict(lambda: [0, set()])  # h -> [positions, docs]
    for doc_id, t in enumerate(texts):
        toks = t.split()
        for s in range(len(toks) - 15):
            h = hashlib.md5(" ".join(toks[s : s + 16]).encode()).hexdigest()
            spans[h][0] += 1
            spans[h][1].add(doc_id)
    n_pos = sum(v[0] for v in spans.values())
    n_distinct = len(spans)
    crossdoc = [v for v in spans.values() if len(v[1]) >= 2]
    dup_pos = sum(v[0] for v in crossdoc)

    row = dedup.duplicate_span_stats(spark, str(tmp_path)).first()
    assert row.n_span_positions == n_pos
    assert row.n_distinct_spans == n_distinct
    assert row.n_crossdoc_spans == len(crossdoc)
    assert row.dup_positions == dup_pos
    assert row.dup_ratio == round(dup_pos / n_pos, 6)
    assert row.n_crossdoc_spans > 0  # the planted overlap was detected


def test_index_update_stats_reconciles_with_band_entries(spark):
    """The per-band update report reconciles with a direct Python replay
    over the stacked band entries at sf0.001: every doc contributes one
    entry per band (n_hist + n_inc == |docs| per band), the bucket
    arithmetic matches the combinatorial definition, and the report
    prices candidate work without materializing pairs."""
    from collections import defaultdict

    SF = "/root/testdata/sf0.001"
    sh = dedup._shingles_cached(spark, SF)
    entries = dedup._band_entries(dedup._minhash_signatures(sh)).collect()
    n_docs = len({e.doc_id for e in entries})
    per = defaultdict(lambda: [0, 0])  # (band, bucket) -> [nh, ni]
    for e in entries:
        per[(e.band_id, e.bucket)][e.doc_id % dedup.INCOMING_MOD == 0] += 1
    expect = {}
    for band in range(dedup.N_BANDS):
        bs = {k: v for k, v in per.items() if k[0] == band}
        nh = sum(v[0] for v in bs.values())
        ni = sum(v[1] for v in bs.values())
        expect[band] = (
            len(bs),
            nh,
            ni,
            sum(1 for v in bs.values() if v[1] > 0),
            sum(v[0] * v[1] for v in bs.values()),
            sum(v[1] * (v[1] - 1) for v in bs.values()) // 2,
            round(ni / (nh + ni), 6),
            max(v[1] for v in bs.values()),
        )
    got = {
        r.band_id: (
            r.n_buckets,
            r.n_hist_entries,
            r.n_inc_entries,
            r.n_buckets_touched,
            r.n_new_cross_cands,
            r.n_new_within_cands,
            r.incoming_share,
            r.max_bucket_incoming,
        )
        for r in dedup.index_update_stats(spark, SF).collect()
    }
    assert got == expect
    for band, (nb, nh, ni, *_rest) in expect.items():
        assert nh + ni == n_docs  # one entry per (doc, band)
