"""Deduplication operators over the ``documents`` table.

Training-data-pipeline extension (the reference's only dedup surface is
SQL DISTINCT, SURVEY §2.7). Five family members, all deterministic and
all expressed in built-in JVM expressions (no UDFs):

* exact        — hash-groupBy on raw text
* fingerprint  — exact after normalization (see ``functions/text.py``)
* n-gram Jaccard — word-3-gram shingle sets, equi-join on shingle,
                 pairwise Jaccard ≥ threshold
* MinHash+LSH  — md5-salted min-hash signatures, banded buckets,
                 candidate join, exact-Jaccard verification
* SimHash      — per-bit majority over token md5 nibbles, signature
                 equality groups
* CDC chunks   — content-defined chunking: a polynomial rolling hash
                 over characters picks chunk boundaries, chunk-level
                 md5 dedup finds shared sub-document content

Hashing uses md5 (not Spark's xxhash64) so the DuckDB oracle can run the
*same* algorithm — both engines order lowercase-hex strings identically,
so ``min()`` over salted hashes is a valid permutation-min on both sides.

Scale: every pipeline is a sequence of hash-partitioned joins/aggregations
keyed on shingle / band-bucket — the standard distributed MinHash layout.
Nothing is quadratic in the corpus; the only pairwise work happens inside
LSH candidate buckets (or, for the plain n-gram op, on the shingle-join
output, bounded by shingle document-frequency).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table, spread

# the session memo's release hook, re-exported for long-lived callers
from automotive_big_data_analysis_spark.catalog import release  # noqa: F401
from automotive_big_data_analysis_spark.functions import hashing
from automotive_big_data_analysis_spark.functions import text as tx
from automotive_big_data_analysis_spark.sources import stored

JACCARD_THRESHOLD = 0.6
# 16 hashes in 8 bands of 2: P(candidate) = 1-(1-J²)⁸ ≈ 0.997 at J = 0.6,
# while random pairs (J ≈ 0.05) almost never collide — the classic S-curve.
N_MINHASH = 16
BAND_SIZE = 2
N_BANDS = N_MINHASH // BAND_SIZE
SHINGLE_N = 3  # shingles are word 3-grams


def _shingle_df(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) with distinct word n-gram shingles per doc:
    tokens → :func:`tx.ngrams` → array_distinct → explode. The token
    arrays are spread over the cores before the per-row gram work; the
    downstream join shuffles on the shingle string."""
    staged = spread(docs.select("doc_id", tx.tokens("text").alias("toks")))
    shingles = F.array_distinct(tx.ngrams("toks", SHINGLE_N))
    return staged.select("doc_id", F.explode(shingles).alias("shingle"))


def _shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle FINGERPRINT table (doc_id, word-3-gram) — a stored
    index artifact: tokenization runs once per corpus
    snapshot; pair generation, MinHash signatures, and candidate
    verification all read fingerprint files bucketed by doc_id."""
    return _stored_index(
        spark,
        sf_dir,
        "shingles",
        "doc_id",
        lambda: _shingle_df(load_table(spark, sf_dir, "documents")),
    )


def exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy): per lang, docs vs distinct raw texts.
    md5 keys keep the shuffle narrow (32-byte keys, not document bodies)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.md5("text").alias("h"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("h").alias("n_unique"),
            (F.count("*") - F.countDistinct("h")).alias("n_exact_dups"),
        )
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard ≥ 0.6 — read from the
    STORED pair index (:func:`pair_index_table`), which builds
    write-through on first touch of a corpus snapshot.

    Every consumer (pair listing, keep-first, connected components, the
    curation pipeline, incremental dedup) therefore reads index FILES;
    the shingle self-join runs once per corpus snapshot at index-build
    time — the staged-table lifecycle the docstrings always described,
    now actual I/O shape."""
    return pair_index_table(spark, sf_dir)


def _computed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pair COMPUTATION (index build): shingle sets → self-equi-join
    on shingle (doc_a < doc_b) → per-pair intersection counts → join
    per-doc set sizes → Jaccard. The shingle join is hash-partitioned on
    the shingle; hot shingles (high document frequency) are the skew
    risk at scale — AQE skew-join splits them, and the MinHash variant
    below avoids them entirely. Only :func:`pair_index_table`'s build
    runs this, once per corpus snapshot, and a single write consumes
    it."""
    sh = _shingles_cached(spark, sf_dir)
    return _near_duplicates(_shared_shingles(sh), sh)


def _shared_shingles(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter): every pair doc_a < doc_b sharing a
    shingle, with the count shared — one self-equi-join on the shingle,
    so the cost is bounded by shingle document frequency, never
    all-pairs."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )


def _sized(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """``inter`` with both documents' shingle-set sizes (sz_a, sz_b)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def _jaccard() -> Column:
    """|A∩B| / |A∪B| over a :func:`_sized` row — integer set sizes, so
    both engines compute the identical IEEE division."""
    i = F.col("inter")
    return F.round(i / (F.col("sz_a") + F.col("sz_b") - i), 6)


def _near_duplicates(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the pairs at Jaccard ≥ the threshold."""
    return (
        _sized(inter, sh)
        .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h15): salted-md5 min-hash signature per document."""
    aggs = hashing.minhash("shingle", N_MINHASH)
    return sh.groupBy("doc_id").agg(*[h.alias(f"h{j}") for j, h in enumerate(aggs)])


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-Jaccard-verified.

    Signatures (8 salted-md5 min-hashes) → 4 banded bucket keys → docs
    sharing any band bucket become candidates → candidates verified with
    true shingle Jaccard ≥ 0.6.

    Scale: candidate generation touches only (doc, band, bucket) tuples —
    shuffles are keyed on the bucket hash, never pairwise. Verification
    joins shingles only for candidate docs (semi-join pushdown). Both
    the candidate list and the shingle table are STORED index artifacts
    (built once per corpus snapshot; the banded self-join — the
    expensive subtree, referenced four times by verification — is paid
    at build time, and every search/verify pass reads files)."""
    sh = _shingles_cached(spark, sf_dir)
    return _verify_candidates(sh, _minhash_candidates_table(spark, sf_dir))


def _band_entries(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, bucket): one banded-LSH bucket key per
    (document, band) — the stacked index-entry form both the candidate
    build and the index-update accounting aggregate over."""
    bands = sig.select(
        "doc_id",
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"h{b * BAND_SIZE + r}") for r in range(BAND_SIZE)],
                )
            ).alias(f"band{b}")
            for b in range(N_BANDS)
        ],
    )
    return bands.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"band{b}").alias("bucket"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band_id", "e.bucket")


def _minhash_candidates_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored banded-LSH candidate pair list (see
    :func:`minhash_lsh_pairs` for the semantics) — split out so the
    bench harness can time the index build separately from searches."""
    sh = _shingles_cached(spark, sf_dir)

    def build() -> DataFrame:
        stacked = _band_entries(_minhash_signatures(sh))
        left = stacked.alias("x")
        right = stacked.alias("y")
        return (
            left.join(
                right,
                (F.col("x.band_id") == F.col("y.band_id"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
            )
            .distinct()
        )

    return _stored_index(spark, sf_dir, "minhash_candidates", "doc_a", build)


def build_indexes(spark: SparkSession, sf_dir: str) -> None:
    """Force-build every stored dedup index artifact for the corpus
    (shingle fingerprints, banded MinHash candidates, the verified
    n-gram pair list). The nightly-batch step the bench harness times
    as ``index_build_s`` — consumers then measure warm-index reads.

    The SimHash signature table depends only on the documents table —
    independent of the shingle → candidates → pairs → labels chain of
    small latency-bound jobs — so the two overlap."""
    stored.overlap(
        lambda: _simhash_signature_table(spark, sf_dir),
        lambda: (
            _shingles_cached(spark, sf_dir),
            _minhash_candidates_table(spark, sf_dir),
            pair_index_table(spark, sf_dir),
            component_labels(spark, sf_dir),
        ),
    )


def _verify_candidates(sh: DataFrame, candidates: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of an LSH candidate pair list.

    Semi-join pushdown: verification touches only candidate docs'
    shingles — prune the shingle table BEFORE the pair joins so the wide
    (doc, shingle-string) shuffles carry collision-bounded rows, not the
    whole corpus (per-doc shingle counts are unchanged by the semi-join,
    so sizes computed from the pruned table are exact)."""
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(cand_docs, "doc_id", "left_semi")
    a_sh = sh_cand.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = sh_cand.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        candidates.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return _near_duplicates(inter, sh_cand)


def keep_list_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy survivor selection: drop any doc that near-duplicates a
    lower-id doc (one anti-join over the verified pair list); report
    per-lang kept/removed counts. Deterministic and order-free — the
    standard "keep first" dedup policy without connected components."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    removed = (
        pairs.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_removed", F.lit(1))
    )
    # the removed set is small relative to the corpus (AQE broadcasts it
    # when it fits); the left join marks each doc so kept/removed aggregate
    # in ONE scan of documents (the naive form scans docs for totals, again
    # for kept, and shuffles an anti-join)
    marked = docs.select("doc_id", "lang").join(removed, "doc_id", "left")
    return marked.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("_removed").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("_removed").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    )


INCOMING_MOD = 5  # doc_id % 5 == 0 → the "incoming batch"; rest = history

PAIR_INDEX_LOCATION = "/tmp/abda_dedup_pair_index"


def _index_tag() -> str:
    """Index paths encode every parameter that shapes the stored
    structures — a semantics change builds a fresh index instead of
    silently reading files computed under the old definition."""
    return f"j{int(JACCARD_THRESHOLD * 100)}w{SHINGLE_N}mh{N_MINHASH}b{BAND_SIZE}"


def _stored_index(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    bucket_col: str,
    build,
) -> DataFrame:
    """Store-through dedup index table ``name``, bucketed by
    ``bucket_col``: built from ``build()`` once per (documents snapshot,
    :func:`_index_tag`) and read from its files after that
    (``sources/stored.py``)."""
    return stored.stored_table(
        spark,
        PAIR_INDEX_LOCATION,
        "pair_idx",
        sf_dir,
        _index_tag(),
        name,
        bucket_col,
        build,
        src_table="documents",
    )


def pair_index_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair list as a STORED bucketed table — the
    persistent fingerprint index a nightly-batch pipeline maintains: the
    expensive shingle/verify pipeline runs once per corpus snapshot at
    index-build time, and every later consumer (tonight's incoming
    batch) reads the index files, never the document bodies.

    Layout: bucketed+sorted by ``doc_a`` (``sources/bucketed.py``
    discipline) so fact-side joins against the index can co-locate.
    Idempotent per (warehouse, corpus basename, semantics tag): an
    existing layout is reused; files that outlive the in-memory catalog
    (a NEW session — the nightly case) are re-attached via CLUSTERED BY
    DDL with no data movement (``sources/stored.py``)."""
    return _stored_index(
        spark, sf_dir, "ngram_pairs", "doc_a", lambda: _computed_pairs(spark, sf_dir)
    )


def incremental_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion near-dedup: the nightly-batch shape of the
    pipeline — an INCOMING batch (deterministic split: doc_id %
    ``INCOMING_MOD`` == 0) is deduplicated against the already-indexed
    HISTORY (everything else) and against itself.

    Policy, greedy and deterministic: an incoming doc is dropped against
    history if any verified near-dup partner (word-3-gram Jaccard ≥ 0.6,
    the family's shared staged pair list) lies in history; otherwise
    dropped within-batch if a partner with a SMALLER doc_id is also
    incoming; else admitted. Per-lang accounting of all three outcomes.

    Scale shape: the history side IS a stored index —
    :func:`pair_index_table`, the bucketed pair table built once per
    corpus snapshot — so tonight's batch reads index FILES (the plan
    shows a bare table scan, asserted in ``tests/test_plans.py``) and
    never recomputes shingles or rescans history bodies. The symmetric
    partner view of the (tiny) index broadcasts; incoming is a pure
    predicate on the documents scan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pairs = pair_index_table(spark, sf_dir).select("doc_a", "doc_b")
    partners = pairs.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("partner")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("partner"))
    )
    incoming = docs.where(F.col("doc_id") % INCOMING_MOD == 0)
    flags = (
        incoming.join(partners, "doc_id", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.max(
                F.when(F.col("partner") % INCOMING_MOD != 0, 1).otherwise(0)
            ).alias("hist_dup"),
            F.max(
                F.when(
                    (F.col("partner") % INCOMING_MOD == 0)
                    & (F.col("partner") < F.col("doc_id")),
                    1,
                ).otherwise(0)
            ).alias("batch_dup"),
        )
    )
    return flags.groupBy("lang").agg(
        F.count("*").alias("n_incoming"),
        F.sum("hist_dup").cast("long").alias("n_dropped_history"),
        F.sum(
            F.when((F.col("hist_dup") == 0) & (F.col("batch_dup") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("n_dropped_batch"),
        F.sum(
            F.when((F.col("hist_dup") == 0) & (F.col("batch_dup") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_admitted"),
    )


def index_update_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly UPDATE accounting for the banded-MinHash dedup index —
    the ``knn_index_update_stats`` shape applied to the pair index
    (round-12 VERDICT item 7): the INCOMING batch (doc_id %
    ``INCOMING_MOD`` == 0, the split :func:`incremental_dedup_stats`
    dedups with) is assigned to band buckets under the FROZEN banding
    (the salted-md5 bands are data-independent, the analog of the
    frozen ANN codebook), and the report prices tonight's index update
    per band BEFORE any pair is materialized: how many bucket entries
    each split holds, how many buckets the batch touches, the
    combinatorial count of NEW candidate pairs the update enqueues for
    verification (incoming×history collisions plus incoming-internal
    pairs per bucket), and the hottest bucket's incoming load (the
    post-ingest skew signal — a bucket whose postings grow unboundedly
    wants attention, the dedup twin of the ANN hot-cell vote).

    Scale shape: one pass over the STORED shingle index → |docs|-row
    signatures → |docs|×``N_BANDS`` stacked entries → a partial-combined
    aggregate keyed on (band, bucket) → an ``N_BANDS``-row report.
    Candidate WORK is estimated from per-bucket occupancy arithmetic —
    the quadratic pair space is never generated (at 100 TB this is the
    report a scheduler reads to size tonight's verify stage).
    Deterministic end-to-end (salted md5 everywhere), so DuckDB replays
    it exactly."""
    sh = _shingles_cached(spark, sf_dir)
    stacked = _band_entries(_minhash_signatures(sh))
    inc = F.col("doc_id") % INCOMING_MOD == 0
    per_bucket = stacked.groupBy("band_id", "bucket").agg(
        F.sum(F.when(~inc, 1).otherwise(0)).alias("nh"),
        F.sum(F.when(inc, 1).otherwise(0)).alias("ni"),
    )
    return (
        per_bucket.groupBy("band_id")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("nh").cast("long").alias("n_hist_entries"),
            F.sum("ni").cast("long").alias("n_inc_entries"),
            F.sum(F.when(F.col("ni") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_buckets_touched"),
            F.sum(F.col("ni") * F.col("nh")).cast("long").alias(
                "n_new_cross_cands"
            ),
            # ni*(ni-1) is even, so the half is exact in one double
            # division on both engines (same IEEE op, values ≪ 2^53)
            (F.sum(F.col("ni") * (F.col("ni") - 1)) / F.lit(2))
            .cast("long")
            .alias("n_new_within_cands"),
            F.round(
                F.sum("ni") / (F.sum("nh") + F.sum("ni")), 6
            ).alias("incoming_share"),
            F.max("ni").cast("long").alias("max_bucket_incoming"),
        )
        .orderBy("band_id")
    )


CC_MAX_ITERS = 12  # propagation radius 2^12 ≫ any real dup-cluster diameter


def component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document connected-component label over the near-duplicate
    pair graph, served from the STORED label table (round-13
    optimization): the CC propagation is a deterministic function of
    the verified pair index, and a production dedup pipeline
    materializes cluster assignments right after pair generation —
    survivor selection, split assignment, and audit queries all read
    the SAME cluster table rather than re-running label propagation
    per query. Built by :func:`build_indexes` (billed in the bench's
    ``index_build_s``); store-through on first touch otherwise. Both
    registered consumers (``dedup_components``,
    ``sample_leakage_safe_split``) previously re-ran the full
    iterative loop — ~6 sequential join+checkpoint rounds — per
    invocation."""
    return _stored_index(
        spark,
        sf_dir,
        "component_labels",
        "doc_id",
        lambda: _component_labels_df(spark, sf_dir),
    )


def _component_labels_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document connected-component label over the near-duplicate
    pair graph: (doc_id, label) for every doc that appears in at least
    one verified pair, where label = the minimum doc_id in the doc's
    transitively-linked cluster. Docs outside the graph are absent
    (callers treat them as singleton components).

    Algorithm: iterative min-label propagation. Every involved doc starts
    labeled with its own id; each round joins labels across edges and
    takes the neighborhood min; stop when a round changes nothing. The
    driver loop only orchestrates — each iteration is a distributed
    join+groupBy on the (small) pair graph, and the loop count is
    O(log diameter) with doubling. At 100 TB scale the same loop runs on
    a billion-edge graph (this is the standard large-scale CC layout);
    ``localCheckpoint`` truncates the growing lineage each round.

    The loop runs at the session shuffle width: AQE coalesces each
    round's shuffle to the size of the graph before ``localCheckpoint``
    materializes it, so a few-hundred-edge graph iterates on a partition
    or two while a billion-edge graph gets full width."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ITERS):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # carry the previous label through the checkpoint so convergence
        # is a scan of the just-materialized round, not a second
        # join-and-recompute of it (that doubled per-round work)
        stepped = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.col("label").alias("_prev"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = stepped.where(F.col("label") != F.col("_prev")).limit(1).count()
        labels = stepped.select("doc_id", "label")
        if changed == 0:
            break
    # labels are materialized checkpoints — the edge cache is no longer an
    # input of the returned plan, so don't leave it resident
    edges.unpersist()
    return labels


def duplicate_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate pair graph: each
    cluster of transitively-linked near-dups gets one component id (the
    minimum doc_id in the cluster, :func:`component_labels`); output is
    per-component size and span. This is the clustering step real dedup
    pipelines run between pair generation and survivor selection —
    "keep first" (cf. ``keep_list_stats``) under-merges chains A~B~C
    where A≁C."""
    labels = component_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("component"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


def _simhash_signature_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash signature (doc_id, signature): 64-bit
    signature as 16 hex nibbles, each nibble the per-bit majority over
    the document's distinct tokens' md5 nibbles.

    Pipeline: (doc, token-hash) distinct → 16 nibble columns per row →
    ONE groupBy(doc) computing all 64 bit-sums + the token count as
    aggregate expressions → signature assembled in a single projection.
    Flat aggregate expressions beat the explode formulation (16 rows per
    hash + a second groupBy) ~2×: the shuffle carries one 65-column
    partial row per (partition, doc) instead of 16 exploded rows per
    token, and there's one aggregation, not two."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(F.array_distinct(tx.tokens("text"))).alias("t"))
        .select("doc_id", F.md5("t").alias("h"))
    )
    nibs = tok.select(
        "doc_id",
        *[
            F.conv(F.substring("h", p, 1), 16, 10).cast("int").alias(f"n{p}")
            for p in range(1, 17)
        ],
    )
    maj = nibs.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.floor(F.col(f"n{p}") / (2**b)) % 2).alias(f"s_{p}_{b}")
            for p in range(1, 17)
            for b in range(4)
        ],
    )
    hexchars = F.array(*[F.lit(ch) for ch in "0123456789abcdef"])

    def _maj_nib(p: int):
        # per-bit majority with the same tie rule as before: bit set when
        # ones × 2 >= token count
        return sum(
            F.when(F.col(f"s_{p}_{b}") * 2 >= F.col("n"), F.lit(2**b)).otherwise(0)
            for b in range(4)
        )

    return maj.select(
        "doc_id",
        F.concat(
            *[
                F.element_at(hexchars, (_maj_nib(p) + 1).cast("int"))
                for p in range(1, 17)
            ]
        ).alias("signature"),
    )


def _simhash_signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED per-document SimHash signature table (round-13
    optimization): the signature computation (tokenize → md5 per token →
    64 per-bit majority sums) is a per-snapshot index artifact exactly
    like the MinHash candidate list — a production simhash dedup keeps
    signatures persistent so nightly batches compare against stored
    values instead of re-hashing the corpus. Before this table existed,
    BOTH registered consumers (``dedup_simhash_groups``,
    ``dedup_quality_report``) re-ran the full signature pipeline per
    query — the quality report's docstring already promised "both
    inputs are STORED index tables", which is now true. Built by
    :func:`build_indexes`, billed in the bench's ``index_build_s``."""
    return _stored_index(
        spark,
        sf_dir,
        "simhash_signatures",
        "doc_id",
        lambda: _simhash_signature_df(spark, sf_dir),
    )


def simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup groups: docs sharing a 16-nibble signature
    (:func:`_simhash_signature_table` — stored index files) form a
    group; output is per-group size and doc-id span for groups larger
    than one."""
    sig = _simhash_signature_table(spark, sf_dir)
    return (
        sig.groupBy("signature")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


# Content-defined chunking: boundary after position i when the polynomial
# rolling hash of the CDC_WINDOW chars ending at i is ≡ 0 mod CDC_MASK —
# boundaries follow CONTENT, so an insertion early in a document shifts
# no boundary after the next sync point (fixed-size chunking would shift
# them all). Expected chunk length ≈ CDC_MASK characters.
CDC_WINDOW = 8
CDC_BASE = 31
CDC_MASK = 64


def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup stats per language via content-defined chunking
    (the rolling-hash fingerprinting member of the family): documents
    split at rolling-hash sync points, chunks keyed by md5, per-lang
    totals / distinct / duplicate-chunk counts and mean chunk length.
    This is how sub-document duplication (boilerplate headers, quoted
    passages) is found when whole-document hashes all differ.

    Implementation notes (both engines compute the identical function):

    * the per-position window hash is built as a ``zip_with`` chain over
      ``CDC_WINDOW`` shifted slices of the per-char code array — each
      array evaluates ONCE per row; a per-position ``element_at`` lambda
      formulation re-evaluates the inlined array expression per element
      (O(n²), measured unusable);
    * an exchange separates boundary computation from chunk extraction so
      ``bounds`` is a bound attribute (O(1) lookups), not an inlined
      expression Catalyst's projection collapse would re-expand;
    * character codes are UTF-16 units on Spark and codepoints on DuckDB
      — identical on this corpus (BMP-only, verified) and on any BMP
      text; hash arithmetic stays exact in longs (max ≈ 1.4e16 < 2⁶³).

    Scale: stateless per-row chunking (the exchange is a narrow
    round-robin), then one hash aggregation on the 32-byte chunk key."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n = F.length("text")
    codes = F.transform(
        F.split(F.col("text"), "(?!^)"), lambda c: F.ascii(c).cast("long")
    )
    win_len = n - F.lit(CDC_WINDOW - 1)

    def shifted(j: int):
        # codes[W-j .. n-j]: element k aligns with the window ending at
        # position i = W + k - 1, contributing code(i-j) · BASE^j
        return F.slice(codes, F.lit(CDC_WINDOW - j), win_len)

    hs = functools.reduce(
        lambda acc, j: F.zip_with(
            acc, shifted(j), lambda x, y: x + y * F.lit(CDC_BASE**j)
        ),
        range(1, CDC_WINDOW),
        F.transform(shifted(0), lambda x: x),
    )
    positions = F.array_compact(
        F.zip_with(
            F.sequence(F.lit(CDC_WINDOW), n),
            hs,
            lambda p, hv: F.when(F.pmod(hv, F.lit(CDC_MASK)) == 0, p),
        )
    )
    bounds = F.when(
        n >= CDC_WINDOW, F.concat(F.array(F.lit(0)), positions, F.array(n))
    ).otherwise(F.array(F.lit(0), n))
    # round-robin barrier (NOT keyed on text: a duplicate-heavy corpus —
    # exactly what a dedup operator sees — would hash every copy of a hot
    # document into one partition)
    staged = docs.select("lang", "text", bounds.alias("bounds")).repartition(
        spark.sparkContext.defaultParallelism
    )
    chunks = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("bounds") - 1),
            lambda k: F.substring(
                F.col("text"),
                F.element_at(F.col("bounds"), k) + 1,
                F.element_at(F.col("bounds"), k + F.lit(1))
                - F.element_at(F.col("bounds"), k),
            ),
        ),
        lambda c: c != "",
    )
    return (
        staged.select("lang", F.explode(chunks).alias("chunk"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct(F.md5("chunk")).alias("n_unique"),
            (F.count("*") - F.countDistinct(F.md5("chunk")))
            .cast("long")
            .alias("n_dup_chunks"),
            F.round(F.avg(F.length("chunk")), 6).alias("avg_chunk_len"),
        )
    )


def candidate_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation quality evaluation: precision/recall of the
    two sub-quadratic candidate schemes (banded MinHash-LSH, whole-
    signature SimHash) against the exact word-3-gram Jaccard ≥ 0.6 pair
    list as ground truth — the dedup analog of ``knn_recall_report``.

    A 100 TB dedup run cannot afford the exact all-pairs verification
    everywhere, so it ships a candidate scheme — and this report is the
    pre-trust measurement that says what the scheme misses (recall) and
    how much wasted verification it schedules (precision). Both inputs
    are STORED index tables (the banded candidate list and the verified
    pair index), so the evaluation reads files; the only new work is the
    SimHash signature self-join, which groups on the 16-nibble signature
    (hash-partitioned, never all-pairs).

    Deterministic end to end (md5-based signatures, exact counts), so
    DuckDB replays every number."""
    truth = pair_index_table(spark, sf_dir).select("doc_a", "doc_b")
    lsh = _minhash_candidates_table(spark, sf_dir).select("doc_a", "doc_b")
    ssig = _simhash_signature_table(spark, sf_dir)
    x, y = ssig.alias("x"), ssig.alias("y")
    sim = x.join(
        y,
        (F.col("x.signature") == F.col("y.signature"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    parts = []
    for method, cand in (("minhash_lsh", lsh), ("simhash", sim)):
        tp = cand.join(truth, ["doc_a", "doc_b"], "left_semi").agg(
            F.count("*").alias("n_tp")
        )
        parts.append(
            cand.agg(F.count("*").alias("n_candidates"))
            .join(F.broadcast(n_truth))
            .join(F.broadcast(tp))
            .select(
                F.lit(method).alias("method"),
                "n_candidates",
                "n_truth",
                "n_tp",
                F.round(
                    F.when(
                        F.col("n_candidates") > 0,
                        F.col("n_tp") / F.col("n_candidates"),
                    ).otherwise(F.lit(0.0)),
                    6,
                ).alias("precision"),
                F.round(
                    F.when(
                        F.col("n_truth") > 0, F.col("n_tp") / F.col("n_truth")
                    ).otherwise(F.lit(0.0)),
                    6,
                ).alias("recall"),
            )
        )
    return parts[0].unionByName(parts[1])


# corpus-level sketch width: 64 salted min-hashes → est. Jaccard has
# standard error ≈ sqrt(J(1-J)/64) ≤ 0.0625 — enough to rank dump pairs
N_CORPUS_MINHASH = 64


def corpus_overlap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE corpus overlap: for every pair of ingest sources
    (crawls / dumps), the MinHash-ESTIMATED shingle Jaccard next to the
    exact one — the dataset-level dedup measurement that decides which
    dumps are worth pairwise-deduping at all before any per-document
    work is scheduled.

    The 100 TB path is the sketch: each source's signature is 64 salted
    min-hashes over its distinct word-3-gram shingles — a map-side-
    combined ``min`` per (source, hash-index) whose state is
    |sources| × 64 regardless of corpus size, and whose pairwise
    comparison touches only the |sources|-row signature table. The
    exact intersection join is the test-scale verification that the
    estimates can be trusted (at production scale one runs ONLY the
    sketch). All hashing is salted md5, so DuckDB replays both sides.

    Output per unordered source pair: distinct-shingle sizes, exact
    intersection, estimated and exact Jaccard."""
    sh = _shingles_cached(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # Stage the distinct (source, shingle) relation ONCE (round-13
    # optimization): both consumers below — the 64-way min-hash
    # signature aggregate and the exact intersection join — scan it, and
    # without a barrier each re-runs the shingle-index read, the doc_id
    # join, and the distinct shuffle (plan showed the whole subtree
    # duplicated). The staged relation is (|sources| × distinct
    # shingles) rows of two short strings — the same dimension-bounded
    # footprint the sketch design already assumes.
    # Repartition BEFORE the checkpoint: the distinct's shuffle output is
    # AQE-coalesced to a handful of partitions at test scale, and a
    # localCheckpoint freezes that width — so the 64-way md5 min-hash map
    # work below ran on 4 tasks regardless of cores (stage profile,
    # round 13). An explicit width pins the checkpoint at full
    # parallelism; at production scale the relation is large enough that
    # AQE would keep it wide anyway and the extra exchange is noise.
    gsh = (
        sh.join(src, "doc_id")
        .select("source", "shingle")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    sig = gsh.groupBy("source").agg(
        *[
            h.alias(f"m{j}")
            for j, h in enumerate(hashing.minhash("shingle", N_CORPUS_MINHASH, "c"))
        ],
        F.count("*").alias("sz"),
    )
    x, y = sig.alias("x"), sig.alias("y")
    n_match = sum(
        (F.col(f"x.m{j}") == F.col(f"y.m{j}")).cast("int")
        for j in range(N_CORPUS_MINHASH)
    )
    # Non-equi self-join of the per-source SIGNATURE AGGREGATE
    # (|sources| rows): broadcast the right side so the plan is a
    # BroadcastNestedLoopJoin over a dimension-sized build, never a
    # CartesianProduct exchange (the global plan audit's hard ban).
    est = x.join(F.broadcast(y), F.col("x.source") < F.col("y.source")).select(
        F.col("x.source").alias("source_a"),
        F.col("y.source").alias("source_b"),
        F.col("x.sz").alias("n_shingles_a"),
        F.col("y.sz").alias("n_shingles_b"),
        n_match.alias("n_match"),
    )
    a, b = gsh.alias("a"), gsh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    n_i = F.coalesce(F.col("n_inter"), F.lit(0))
    return est.join(F.broadcast(inter), ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "n_shingles_a",
        "n_shingles_b",
        n_i.cast("long").alias("n_inter"),
        F.round(F.col("n_match") / float(N_CORPUS_MINHASH), 6).alias(
            "est_jaccard"
        ),
        F.round(
            n_i / (F.col("n_shingles_a") + F.col("n_shingles_b") - n_i), 6
        ).alias("exact_jaccard"),
    )


SPAN_TOKENS = 16  # exact-substring dedup granularity, in word tokens


def duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language duplicate token-SPAN report — the accounting pass of
    exact-substring deduplication (the published approach removes exact
    duplicate spans of ~50 BPE tokens between documents; word-16-grams
    here). Unlike doc-level dedup, this catches boilerplate EMBEDDED in
    otherwise-unique documents (headers, license blocks, templated
    navigation) — the dominant duplication mode in web corpora.

    Every token position opens a 16-token span (stride 1 — this is the
    substring lattice, not the chunking grid); spans hash by content
    (md5 of the space-joined slice) so identity is engine- and
    layout-independent. A span is *cross-document duplicated* when it
    occurs in ≥2 distinct docs of the language. ``dup_positions /
    n_span_positions`` is the fraction of the span lattice a substring
    dedup pass would rewrite — the number that decides whether the
    corpus needs span-level surgery or doc-level dedup suffices.

    Scale shape: the suffix-array formulation is a single-machine
    algorithm; the Spark-native equivalent is exactly this — one staged
    tokenizer pass, map-side span-hash generation, ONE aggregation
    keyed on (lang, span-hash) with map-side partial combine (shuffle
    bounded by the distinct-span vocabulary), then a lang-width rollup.
    Nothing pairwise, nothing leaves the JVM; hot spans (high document
    frequency) are bounded because each doc contributes each position
    once."""
    docs = load_table(spark, sf_dir, "documents")
    staged = spread(docs.select("doc_id", "lang", tx.tokens("text").alias("toks")))
    spans = F.transform(tx.ngrams("toks", SPAN_TOKENS), F.md5)
    pos = staged.select("doc_id", "lang", F.explode(spans).alias("h"))
    per_span = pos.groupBy("lang", "h").agg(
        F.count("*").alias("n_pos"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    crossdoc = F.col("n_docs") >= 2
    dup_pos = F.sum(F.when(crossdoc, F.col("n_pos")).otherwise(F.lit(0)))
    return per_span.groupBy("lang").agg(
        F.sum("n_pos").alias("n_span_positions"),
        F.count("*").alias("n_distinct_spans"),
        F.sum(crossdoc.cast("long")).alias("n_crossdoc_spans"),
        dup_pos.alias("dup_positions"),
        # integer operands → identical IEEE division on both engines
        F.round(
            dup_pos.cast("double") / F.sum("n_pos"), 6
        ).alias("dup_ratio"),
    )


CONTAINMENT_THRESHOLD = 0.8


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT audit — the small-inside-big duplication
    mode symmetric Jaccard structurally misses: a paragraph quoted
    whole inside a 100× larger document has containment |A∩B|/|A| ≈ 1
    but Jaccard ≈ |A|/|B| ≈ 0.01, so a Jaccard-gated dedup pass ships
    the duplicate. This operator scores every intersecting pair on
    BOTH measures and reports the blind spot: how many pairs sit at
    containment ≥ 0.8 with Jaccard < 0.6 (the ones only a
    containment-aware pass or span-level dedup, ``dedup_span_stats``,
    would catch), and the worst containment hiding below the Jaccard
    threshold. On this corpus the blind spot is empty and
    max_blind_containment ≈ 0.27 — the MEASUREMENT that doc-level
    Jaccard suffices here is the operator's product; on a web corpus
    with quoting/aggregator sites the same report routinely forces a
    containment pass.

    Scale shape: reuses the stored shingle fingerprint table and the
    same shingle-hash-partitioned equi-join as the Jaccard pass (cost
    bounded by shingle document frequency, never all-pairs); the
    report aggregates pair scores to one row. Exact integer set sizes
    → identical IEEE division on both engines."""
    sh = _shingles_cached(spark, sf_dir)
    cont = F.round(F.col("inter") / F.least("sz_a", "sz_b"), 6)
    scored = _sized(_shared_shingles(sh), sh).select(
        cont.alias("containment"), _jaccard().alias("jaccard")
    )
    low_jac = F.col("jaccard") < JACCARD_THRESHOLD
    blind = low_jac & (F.col("containment") >= CONTAINMENT_THRESHOLD)
    return scored.agg(
        F.count("*").alias("n_pairs_scored"),
        F.sum(blind.cast("long")).alias("n_blind_spot_pairs"),
        F.max(F.when(low_jac, F.col("containment"))).alias(
            "max_blind_containment"
        ),
        F.sum((F.col("containment") == 1.0).cast("long")).alias(
            "n_full_containment"
        ),
    )


_CDC_WSUM = " + ".join(
    f"CAST(unicode(text[i-{j}]) AS BIGINT) * {CDC_BASE**j}"
    for j in range(CDC_WINDOW)
)

_SHINGLES_CTE = f"""
    WITH toks AS (
        SELECT doc_id, {tx.tokens_sql("text")} AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               UNNEST(list_distinct({tx.ngrams_sql("t", SHINGLE_N)})) AS shingle
        FROM toks
    )
"""

# Shingle-set sizes and every co-occurring pair's intersection count,
# chaining off ``sh``; ``pairs`` adds the Jaccard of each.
_INTER_CTES = """
    , sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""

_PAIR_SQL_TAIL = _INTER_CTES + """, pairs AS (
        SELECT doc_a, doc_b,
               ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    )
"""

# Banded MinHash candidate generation (msig → bands → cand), chaining off
# the ``sh`` shingle CTE — shared by the LSH pair oracle and the candidate
# quality report.
_MINHASH_CAND_CTE = f"""
    , msig AS (
        SELECT doc_id,
               {", ".join(
                   f"{h} AS h{j}"
                   for j, h in enumerate(hashing.minhash_sql("shingle", N_MINHASH))
               )}
        FROM sh GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, b.band_id,
               CASE b.band_id
                   {" ".join(f"WHEN {b} THEN md5(h{2 * b} || '|' || h{2 * b + 1})" for b in range(N_BANDS - 1))}
                   ELSE md5(h{N_MINHASH - 2} || '|' || h{N_MINHASH - 1})
               END AS bucket
        FROM msig CROSS JOIN (
            VALUES {", ".join(f"({b})" for b in range(N_BANDS))}
        ) AS b(band_id)
    ), cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.bucket = y.bucket
         AND x.doc_id < y.doc_id
    )
"""

# Per-document SimHash signature (stok → … → ssig), standalone over
# ``documents`` — shared by the SimHash group oracle and the candidate
# quality report.
_SIMHASH_SIG_CTE = f"""
    stok AS (
        SELECT DISTINCT doc_id, md5(t.t) AS h
        FROM documents, UNNEST(list_distinct({tx.tokens_sql("text")})) AS t(t)
    ), spos AS (
        SELECT doc_id, p.p AS p,
               strpos('0123456789abcdef', substr(h, p.p, 1)) - 1 AS nib
        FROM stok CROSS JOIN (SELECT UNNEST(range(1, 17)) AS p) AS p
    ), smaj AS (
        SELECT doc_id, p, COUNT(*) AS n,
               SUM(nib % 2) AS s0,
               SUM((nib // 2) % 2) AS s1,
               SUM((nib // 4) % 2) AS s2,
               SUM((nib // 8) % 2) AS s3
        FROM spos GROUP BY doc_id, p
    ), snibs AS (
        SELECT doc_id, p,
               (CASE WHEN s0 * 2 >= n THEN 1 ELSE 0 END)
             + (CASE WHEN s1 * 2 >= n THEN 2 ELSE 0 END)
             + (CASE WHEN s2 * 2 >= n THEN 4 ELSE 0 END)
             + (CASE WHEN s3 * 2 >= n THEN 8 ELSE 0 END) AS maj_nib
        FROM smaj
    ), ssig AS (
        SELECT doc_id,
               string_agg(substr('0123456789abcdef', maj_nib + 1, 1), ''
                          ORDER BY p) AS signature
        FROM snibs GROUP BY doc_id
    )
"""

# Connected components of the verified near-dup graph: the thresholded
# pairs ``fpairs`` and ``comp(doc_id, component)``, the smallest doc id
# each doc reaches through a recursive CTE — the ``dedup_components``
# oracle, reused by ``sampling``'s leakage-safe split.
_COMPONENTS_CTES = (
    _SHINGLES_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + _PAIR_SQL_TAIL
    + f"""
    , fpairs AS (
        SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
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
    )"""
)

ORACLE: dict[str, str] = {
    "dedup_exact_stats": """
        WITH t AS (SELECT lang, md5(text) AS h FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
               COUNT(DISTINCT h) AS n_unique,
               COUNT(*) - COUNT(DISTINCT h) AS n_exact_dups
        FROM t GROUP BY lang
    """,
    "dedup_ngram_pairs": _SHINGLES_CTE
    + _PAIR_SQL_TAIL
    + f"SELECT * FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}",
    "dedup_minhash_lsh_pairs": _SHINGLES_CTE
    + _MINHASH_CAND_CTE
    + """
    , sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT i.doc_a, i.doc_b,
               ROUND(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6)
                   AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    ) WHERE jaccard >= 0.6
    """,
    "dedup_keep_stats": _SHINGLES_CTE
    + _PAIR_SQL_TAIL
    + f"""
    , removed AS (
        SELECT DISTINCT doc_b AS doc_id FROM pairs
        WHERE jaccard >= {JACCARD_THRESHOLD}
    ), kept AS (
        SELECT d.lang, COUNT(*) AS n_kept
        FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
        WHERE r.doc_id IS NULL GROUP BY d.lang
    ), totals AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    )
    SELECT t.lang, t.n_docs,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_docs - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
    FROM totals t LEFT JOIN kept k ON t.lang = k.lang
    """,
    "dedup_components": _COMPONENTS_CTES
    + """
    SELECT component, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM comp GROUP BY component HAVING COUNT(*) > 1
    """,
    "dedup_simhash_groups": "WITH "
    + _SIMHASH_SIG_CTE
    + """
    SELECT signature, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM ssig GROUP BY signature HAVING COUNT(*) > 1
    """,
    "dedup_quality_report": _SHINGLES_CTE
    + _PAIR_SQL_TAIL
    + f"""
    , truth AS (
        SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
    )
    """
    + _MINHASH_CAND_CTE
    + ", "
    + _SIMHASH_SIG_CTE
    + """
    , sim_cand AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM ssig x JOIN ssig y
          ON x.signature = y.signature AND x.doc_id < y.doc_id
    ), m AS (
        SELECT 'minhash_lsh' AS method,
               (SELECT COUNT(*) FROM cand) AS n_candidates,
               (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM cand c JOIN truth t
                    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_tp
        UNION ALL
        SELECT 'simhash',
               (SELECT COUNT(*) FROM sim_cand),
               (SELECT COUNT(*) FROM truth),
               (SELECT COUNT(*) FROM sim_cand c JOIN truth t
                    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
    )
    SELECT method, n_candidates, n_truth, n_tp,
           ROUND(CASE WHEN n_candidates > 0
                      THEN CAST(n_tp AS DOUBLE) / n_candidates
                      ELSE 0 END, 6) AS precision,
           ROUND(CASE WHEN n_truth > 0
                      THEN CAST(n_tp AS DOUBLE) / n_truth
                      ELSE 0 END, 6) AS recall
    FROM m
    """,
}

ORACLE["dedup_cdc_chunks"] = f"""
    WITH base AS (
        SELECT doc_id, lang, text, length(text) AS n FROM documents
    ), hx AS (
        SELECT doc_id, lang, text, n,
            CASE WHEN n >= {CDC_WINDOW}
                 THEN list_filter(range({CDC_WINDOW}, n+1),
                                  i -> ({_CDC_WSUM}) % {CDC_MASK} = 0)
                 ELSE [] END AS bpos
        FROM base
    ), bounds AS (
        SELECT doc_id, lang, text,
               list_concat(list_concat([0], bpos), [n]) AS bs
        FROM hx
    ), chunks AS (
        SELECT doc_id, lang,
            UNNEST(list_filter(
                list_transform(range(1, len(bs)),
                               k -> substring(text, bs[k]+1, bs[k+1]-bs[k])),
                c -> c != '')) AS chunk
        FROM bounds
    )
    SELECT lang, COUNT(*) AS n_chunks,
           COUNT(DISTINCT md5(chunk)) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(chunk)) AS BIGINT)
               AS n_dup_chunks,
           ROUND(AVG(length(chunk)), 6) AS avg_chunk_len
    FROM chunks GROUP BY lang
"""

ORACLE["dedup_incremental_stats"] = (
    _SHINGLES_CTE
    + _PAIR_SQL_TAIL
    + f"""
    , vp AS (
        SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
    ), partners AS (
        SELECT doc_a AS doc_id, doc_b AS partner FROM vp
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS partner FROM vp
    ), inc AS (
        SELECT doc_id, lang FROM documents
        WHERE doc_id % {INCOMING_MOD} = 0
    ), flags AS (
        SELECT i.doc_id, i.lang,
               MAX(CASE WHEN p.partner % {INCOMING_MOD} != 0
                        THEN 1 ELSE 0 END) AS hist_dup,
               MAX(CASE WHEN p.partner % {INCOMING_MOD} = 0
                             AND p.partner < i.doc_id
                        THEN 1 ELSE 0 END) AS batch_dup
        FROM inc i LEFT JOIN partners p ON i.doc_id = p.doc_id
        GROUP BY 1, 2
    )
    SELECT lang, COUNT(*) AS n_incoming,
           CAST(SUM(hist_dup) AS BIGINT) AS n_dropped_history,
           CAST(SUM(CASE WHEN hist_dup = 0 AND batch_dup = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_batch,
           CAST(SUM(CASE WHEN hist_dup = 0 AND batch_dup = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
    FROM flags GROUP BY lang
    """
)

# The banded index-entry CTE (sh → msig → bands) reused verbatim; the
# per-bucket occupancy arithmetic mirrors index_update_stats exactly.
ORACLE["dedup_index_update_stats"] = (
    _SHINGLES_CTE
    + _MINHASH_CAND_CTE
    + f"""
    , fb AS (
        SELECT band_id, bucket,
               SUM(CASE WHEN doc_id % {INCOMING_MOD} = 0 THEN 0 ELSE 1 END)
                   AS nh,
               SUM(CASE WHEN doc_id % {INCOMING_MOD} = 0 THEN 1 ELSE 0 END)
                   AS ni
        FROM bands GROUP BY band_id, bucket
    )
    SELECT band_id,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(nh) AS BIGINT) AS n_hist_entries,
           CAST(SUM(ni) AS BIGINT) AS n_inc_entries,
           CAST(SUM(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buckets_touched,
           CAST(SUM(ni * nh) AS BIGINT) AS n_new_cross_cands,
           CAST(SUM(ni * (ni - 1)) / 2 AS BIGINT) AS n_new_within_cands,
           ROUND(CAST(SUM(ni) AS DOUBLE) / (SUM(nh) + SUM(ni)), 6)
               AS incoming_share,
           CAST(MAX(ni) AS BIGINT) AS max_bucket_incoming
    FROM fb GROUP BY band_id ORDER BY band_id
"""
)

QUERIES = {
    "dedup_exact_stats": exact_stats,
    "dedup_ngram_pairs": ngram_jaccard_pairs,
    "dedup_minhash_lsh_pairs": minhash_lsh_pairs,
    "dedup_keep_stats": keep_list_stats,
    "dedup_components": duplicate_components,
    "dedup_simhash_groups": simhash_groups,
    "dedup_cdc_chunks": cdc_chunk_stats,
    "dedup_incremental_stats": incremental_dedup_stats,
    "dedup_index_update_stats": index_update_stats,
    "dedup_quality_report": candidate_quality_report,
    "dedup_corpus_overlap": corpus_overlap_stats,
    "dedup_span_stats": duplicate_span_stats,
    "dedup_containment_pairs": containment_pairs,
}

ORACLE["dedup_containment_pairs"] = (
    _SHINGLES_CTE
    + _INTER_CTES
    + f""", scored AS (
        SELECT ROUND(CAST(inter AS DOUBLE) / LEAST(sa.sz, sb.sz), 6)
                   AS containment,
               ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6)
                   AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT COUNT(*) AS n_pairs_scored,
           CAST(SUM(CASE WHEN jaccard < {JACCARD_THRESHOLD}
                         AND containment >= {CONTAINMENT_THRESHOLD}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_blind_spot_pairs,
           MAX(CASE WHEN jaccard < {JACCARD_THRESHOLD}
                    THEN containment END) AS max_blind_containment,
           CAST(SUM(CASE WHEN containment = 1.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_full_containment
    FROM scored
"""
)

ORACLE["dedup_span_stats"] = f"""
    WITH toks AS (
        SELECT doc_id, lang, {tx.tokens_sql("text")} AS t
        FROM documents
    ), spans AS (
        SELECT doc_id, lang, md5(g.g) AS h
        FROM toks, UNNEST({tx.ngrams_sql("t", SPAN_TOKENS)}) AS g(g)
    ), per_span AS (
        SELECT lang, h, COUNT(*) AS n_pos, COUNT(DISTINCT doc_id) AS n_docs
        FROM spans GROUP BY lang, h
    )
    SELECT lang,
           CAST(SUM(n_pos) AS BIGINT) AS n_span_positions,
           COUNT(*) AS n_distinct_spans,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_crossdoc_spans,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN n_pos ELSE 0 END) AS BIGINT)
               AS dup_positions,
           ROUND(CAST(SUM(CASE WHEN n_docs >= 2 THEN n_pos ELSE 0 END)
                      AS DOUBLE) / SUM(n_pos), 6) AS dup_ratio
    FROM per_span GROUP BY lang
"""

ORACLE["dedup_corpus_overlap"] = (
    _SHINGLES_CTE
    + f"""
    , gsh AS (
        SELECT DISTINCT d.source, s.shingle
        FROM sh s JOIN documents d ON s.doc_id = d.doc_id
    ), csig AS (
        SELECT source,
               {", ".join(
                   f"{h} AS m{j}"
                   for j, h in enumerate(
                       hashing.minhash_sql("shingle", N_CORPUS_MINHASH, "c")
                   )
               )},
               COUNT(*) AS sz
        FROM gsh GROUP BY source
    ), ovl AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_inter
        FROM gsh a JOIN gsh b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    ), sp AS (
        SELECT x.source AS source_a, y.source AS source_b,
               x.sz AS n_shingles_a, y.sz AS n_shingles_b,
               ({" + ".join(f"CASE WHEN x.m{j} = y.m{j} THEN 1 ELSE 0 END" for j in range(N_CORPUS_MINHASH))})
                   AS n_match
        FROM csig x JOIN csig y ON x.source < y.source
    )
    SELECT p.source_a, p.source_b, p.n_shingles_a, p.n_shingles_b,
           CAST(COALESCE(o.n_inter, 0) AS BIGINT) AS n_inter,
           ROUND(CAST(p.n_match AS DOUBLE) / {N_CORPUS_MINHASH}, 6)
               AS est_jaccard,
           ROUND(CAST(COALESCE(o.n_inter, 0) AS DOUBLE)
                 / (p.n_shingles_a + p.n_shingles_b - COALESCE(o.n_inter, 0)),
                 6) AS exact_jaccard
    FROM sp p
    LEFT JOIN ovl o
      ON o.source_a = p.source_a AND o.source_b = p.source_b
    """
)
