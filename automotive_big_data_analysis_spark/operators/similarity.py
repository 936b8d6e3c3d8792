"""Similarity search over the ``embeddings`` table (vec_id, array<float>
embedding, label).

Training-data-pipeline extension: brute-force cosine top-k as the
correctness baseline, with three scale paths — multi-probe hyperplane-LSH
(Hamming radius ``LSH_RADIUS``, single- and multi-table), IVF
coarse-quantizer cells, and product-quantization codes with ADC scoring
(composing as IVF-PQ, shipped with an exact-cosine rerank stage) — plus
cosine near-dup pairs (blocked GEMM) and per-label centroids. The IVF
operating point is CORPUS-DERIVED (``ivf_params``: K = clamp(ceil(2·√N),
8, 65536) cells, shipped probe depth ceil(K/3), stored postings depth
ceil(K/2)): a fixed point decays with corpus growth (recall@5 0.82 →
0.56 at 10×), the derived rule holds recall@5 ≥ 0.8 at bench scale, and
the probe/K fractions are calibrated from the ``knn_recall_tradeoff``
frontier, which stays the per-corpus recalibration instrument. All
scoring runs in JVM higher-order functions (``functions/vectors.py``);
the DuckDB oracle executes the same arithmetic via ``list_dot_product``
and derives the SAME integer parameters from a COUNT(*) scalar subquery.

One search path per method. Each ANN method has ONE candidate function
that carries the probe depth ``pr`` that discovered each (query_id,
vec_id) pair — ``_ivf_candidates`` (postings rank), ``_lsh_scored``
(mask radius), ``_lsh_mt_scored`` (radius and table count),
``_ivfpq_adc_scored`` / ``_ivf_sq8_scored`` (IVF candidates scored from
codes). Exact scoring is ``_exact_scored`` and the per-query cut is
``_top``. The registered searches, the reranks, the recall reports and
the stored recall frontier all read these: a search cuts at its shipped
depth, the frontier keeps ``pr`` and folds every level out of one
max-depth pass, so a frontier row and the search it describes cannot
drift apart.

Scale shape: the query side of a top-k search is small → broadcast it; the
corpus side streams partition-parallel with no shuffle until the final
per-query top-k (|queries|×k rows). The LSH variant replaces the full
scan with a bucket equi-join — at 100 TB the bucket key becomes the
partitioning key and only bucket-local pairs are scored.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table, memoized, spread

# the session memo's release hook, re-exported for long-lived callers
from automotive_big_data_analysis_spark.catalog import release  # noqa: F401
from automotive_big_data_analysis_spark.functions import exact as ex
from automotive_big_data_analysis_spark.functions import vectors as V
from automotive_big_data_analysis_spark.sources import stored

N_QUERIES = 10  # vec_id < 10 are the demo query set
TOP_K = 5

# The corpus has no near-identical embeddings (max pairwise cosine ≈0.51),
# so the pair threshold is set where the operator has observable output.
DUP_COSINE = 0.45


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # single-file scan + interpreted higher-order scoring → spread first
    return spread(e).select("vec_id", "label", V.as_double("embedding").alias("v"))


def _query_side(vecs: DataFrame) -> DataFrame:
    """(query_id, qv): the query rows of a (vec_id, v) relation — always
    |queries| rows, so every caller broadcasts it."""
    return vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def _cosine():
    """The exact cosine of ``qv`` and ``v``, rounded to 6 decimals — the
    score every exact-ranked method and the oracle share."""
    return F.round(V.cosine(F.col("qv"), F.col("v")), 6)


def _exact_scored(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """``pairs`` (query_id, vec_id, …) plus their exact ``cosine``: the
    candidate's vector joins on vec_id, the query side is broadcast."""
    emb = _emb(spark, sf_dir)
    return (
        pairs.join(emb.select("vec_id", "v"), "vec_id")
        .join(F.broadcast(_query_side(emb)), "query_id")
        .select(*pairs.columns, _cosine().alias("cosine"))
    )


def _top(scored: DataFrame, order: list, depth: int = TOP_K) -> DataFrame:
    """The per-query top-``depth`` window of a scored relation: rows
    ranked within each query by ``order`` with ``vec_id`` breaking ties
    (every engine ranks identically), the position in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(*order, F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= depth
    )


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each query vector (vec_id < 10).

    The query set is broadcast; each corpus partition scores locally and
    only |q|×k candidate rows reach the final ordering."""
    emb = _emb(spark, sf_dir)
    scored = emb.join(
        F.broadcast(_query_side(emb)), F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id", _cosine().alias("cosine"))
    return _top(scored, [F.col("cosine").desc()]).select(
        "query_id", "rank", "vec_id", "cosine"
    )


def _bf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED brute-force ground truth — |queries| × k rows, a
    deterministic function of the corpus and (N_QUERIES, TOP_K), so it
    is a per-snapshot evaluation artifact exactly like the recall
    frontier: the ground truth is the expensive half of every
    evaluation query and never changes between them. Consumers (recall
    reports, the frontier build) read the stored rows; the registered
    ``knn_bruteforce`` query remains a LIVE search — it is the baseline
    the correctness gate exercises, not a table read."""
    return _stored_index(
        spark,
        sf_dir,
        f"ground_truth_n{N_QUERIES}k{TOP_K}",
        "query_id",
        lambda: knn_bruteforce(spark, sf_dir),
    )


# Multi-probe Hamming radius for knn_lsh, chosen from the measured
# knn_recall_tradeoff frontier (sf0.01): radius 0 — the single signature
# bucket — gave recall@5 = 0.04 (too low to ship); radius 1 reached
# 0.18; radius 2 reached 0.42 for 769 scanned candidate rows, still ~26x
# under brute force. The sweep stays the tool for re-deriving this per
# corpus; raising recall further is multi-table LSH or IVF territory.
LSH_RADIUS = 2


def _mask_probes(radius: int):
    """The (mask, d) probe array of every XOR mask within ``radius`` —
    ONE parsed literal: a per-mask ``struct(lit, lit)`` tree costs ~185
    py4j calls, paid again on every search."""
    items = ", ".join(
        f"named_struct('mask', {m}, 'd', {d})" for m, d in _lsh_probe_masks(radius)
    )
    return F.expr(f"array({items})")


def _lsh_scored(spark: SparkSession, sf_dir: str, radius: int) -> DataFrame:
    """(query_id, vec_id, pr, cosine): every pair whose stored signatures
    lie within Hamming ``radius``, exact-scored, ``pr`` = the distance of
    the discovering mask. Masks are distinct, so each pair is found once
    — no dedup stage. The postings carry the vector payload, so both
    join sides read the index alone; the probe side stays |queries| ×
    |masks| rows, always broadcast."""
    post = _lsh_postings(spark, sf_dir)
    probes = (
        post.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("sig").alias("qsig"),
            F.explode(_mask_probes(radius)).alias("e"),
        )
        .select(
            "query_id",
            "qv",
            F.col("qsig").bitwiseXOR(F.col("e.mask")).alias("psig"),
            F.col("e.d").alias("pr"),
        )
    )
    return post.join(
        F.broadcast(probes),
        (F.col("sig") == F.col("psig")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", "pr", _cosine().alias("cosine"))


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via MULTI-PROBE random-hyperplane LSH: each query scans
    every bucket whose 8-bit signature is within Hamming distance
    ``LSH_RADIUS`` of its own (the standard recall lever that needs no
    extra tables — the probe set is the query row exploded over the 37
    XOR masks of weight ≤ 2); exact cosine ranks within the probed
    buckets. Trades recall for a probe-bounded candidate set — the
    100 TB path. Signatures come from the stored bucket index (built
    once per corpus snapshot, bucketed by ``sig`` so bucket-equality
    joins co-locate)."""
    return _top(
        _lsh_scored(spark, sf_dir, LSH_RADIUS), [F.col("cosine").desc()]
    ).select("query_id", "rank", "vec_id", "cosine")


# —— Corpus-derived IVF operating point (round 9) ————————————————————
# Round 8 measured that a FIXED operating point decays as the corpus
# grows: the previous seed rule's effective cell count rose linearly
# with N (N/97 cells) while nprobe stayed 4, so the probed share of the
# corpus shrank — recall@5 0.82 (sf0.01) → 0.56 (sf0.1). The scalable
# design sizes BOTH knobs from the corpus snapshot (classic K ≈ c·√N):
#
#   K      = clamp(ceil(IVF_K_FACTOR · √N), IVF_K_MIN, IVF_K_MAX)
#   seeds  = the K rows with the smallest md5(vec_id) — a deterministic
#            uniform K-subset of WHATEVER id set the corpus has (dense,
#            sparse, post-delete); Spark takes it as a TakeOrdered
#            top-K, never a global sort
#   nprobe = ceil(K / 3)     (shipped search depth)
#   depth  = ceil(K / 2)     (stored postings truncation; the filtered
#                             search and the tradeoff sweep's max)
#
# The K/3 and K/2 fractions are CALIBRATED from the recall frontier
# measured in round 9 with DuckDB over three SFs × three c:
# at sf0.1 (N=2000 → K=90) nprobe=30 gives recall@5 0.82 scanning
# ~33% of the corpus (vs 0.80 at 38% for the old point, which decayed
# with N); at sf0.01 (N=500 → K=45) nprobe=15 gives 0.84. On this
# synthetic corpus the
# embeddings are near-unclustered, so recall tracks the scanned
# FRACTION — the ~1/3 probe share is the measured recall price of THIS
# data; clustered corpora calibrate to far smaller fractions, and
# ``knn_recall_tradeoff`` remains the per-snapshot instrument that
# re-derives it. All arithmetic is integer (// is floor-div in both
# engines) except ceil(c·√N), which is IEEE-identical in Python and
# DuckDB; the oracle derives the same numbers in SQL (``_PARAMS_CTE``).
IVF_K_FACTOR = 2.0
IVF_K_MIN = 8
IVF_K_MAX = 65536  # a 2^16-cell codebook covers ~10^9-vector corpora


class IvfParams:
    """Derived per-corpus index parameters (pure function of N)."""

    __slots__ = ("n", "k", "nprobe", "maxprobe", "levels")

    def __init__(self, n: int):
        import math

        self.n = n
        self.k = min(
            max(math.ceil(IVF_K_FACTOR * math.sqrt(n)), IVF_K_MIN), IVF_K_MAX
        )
        k = self.k
        self.nprobe = (k + 2) // 3
        self.maxprobe = (k + 1) // 2
        # tradeoff sweep depths: ceil(K/16, K/8, K/4, K/3, K/2)
        self.levels = tuple(
            sorted(
                {
                    (k + 15) // 16,
                    (k + 7) // 8,
                    (k + 3) // 4,
                    (k + 2) // 3,
                    (k + 1) // 2,
                }
            )
        )


def _corpus_n(spark: SparkSession, sf_dir: str) -> int:
    """Corpus row count — the single scalar that parameterizes the IVF
    index. Counted once per corpus snapshot in the session memo
    (:func:`catalog.memoized`); this is an index-build-time metadata
    lookup (parquet count-star, satisfied from footer statistics), not a
    hot-path collect."""
    return memoized(
        spark,
        sf_dir,
        "embeddings",
        "corpus_n",
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )


def ivf_params(spark: SparkSession, sf_dir: str) -> IvfParams:
    """The corpus snapshot's derived IVF operating point."""
    return IvfParams(_corpus_n(spark, sf_dir))


def _seed_rows(emb: DataFrame, k: int) -> DataFrame:
    """Deterministic initializer: the ``k`` rows with the smallest
    md5(vec_id) — a uniform pseudo-random K-subset of WHATEVER id set
    the corpus has (a stride/modulo rule silently under-seeds sparse id
    sets: the history split's ids exclude every 5th, which a stride
    that shares a factor with 5 would miss entirely). ``orderBy +
    limit`` plans as a distributed TakeOrdered (per-partition top-K,
    K-row driver merge), never a global sort; the oracle replays the
    same set with ROW_NUMBER over the same md5 key."""
    return (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .select("vec_id", "v")
    )


KM_ITERS = 2  # Lloyd rounds (fixed so the oracle can unroll them)


def _nearest(
    points: DataFrame,
    cents: DataFrame,
    keys: list[str],
    x: str,
    c: str,
    dim: int = V.DIM,
    carry: tuple = (),
) -> DataFrame:
    """(vec_id, *keys, s, *carry): each point's nearest centroid — the
    ONE assignment step of the Lloyd rounds and ``embedding_kmeans``.
    ``points`` (vec_id, *keys, x) score the BROADCAST centroid table
    ``cents`` (*keys, cid, c) of their own ``keys`` group (every centroid
    when there are no keys) with the codegen'd unrolled squared-L2;
    ``s = min(struct(d2, cid))`` breaks distance ties on the smaller cid
    and collapses in a partial aggregate before the exchange, so one row
    per (point, group) crosses the wire. ``carry`` adds aggregates."""
    d2 = V.sq_dist_unrolled(x, c, dim)
    # keys or None: DataFrame.join(on=[]) raises instead of cross-joining
    return (
        points.join(F.broadcast(cents), keys or None)
        .groupBy("vec_id", *keys)
        .agg(F.min(F.struct(d2.alias("d2"), F.col("cid"))).alias("s"), *carry)
    )


def _lloyd(
    points: DataFrame,
    cents: DataFrame,
    keys: list[str],
    x: str,
    c: str,
    dim: int = V.DIM,
    iters: int = KM_ITERS,
) -> DataFrame:
    """(*keys, cid, c): ``iters`` Lloyd rounds from the initial centroid
    table ``cents`` — the ONE trainer of the coarse codebooks (no keys)
    and the PQ sub-codebooks (keyed by subspace ``m``: every subspace
    trains in the same pass). Each round assigns every point to its
    nearest centroid (:func:`_nearest`) and recomputes each centroid as
    its members' DECIMAL-exact mean (``vectors.mean_vector``, map-side
    combined: K × dim × partitions shuffle rows); a centroid that loses
    all members drops out. The model state is ``localCheckpoint``-ed per
    round to truncate lineage. Determinism across engines:
    ascending-index distance folds, cid tiebreaks, order-free DECIMAL
    mean accumulation."""
    for _ in range(iters):
        assigned = _nearest(points, cents, keys, x, c, dim, (F.first(x).alias(c),))
        cents = V.mean_vector(
            assigned.select(*keys, F.col("s.cid").alias("cid"), c),
            [*keys, "cid"],
            c,
        ).localCheckpoint()
    return cents


def _coarse_codebook(emb: DataFrame, k: int) -> DataFrame:
    """(cell_id, cv): a ``k``-cell coarse codebook, Lloyd-trained from
    the md5 seed rows."""
    seeds = _seed_rows(emb, k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    return _lloyd(emb, seeds, [], "v", "cv").select(
        F.col("cid").alias("cell_id"), "cv"
    )


ANN_INDEX_LOCATION = "/tmp/abda_ann_index"


def _index_tag(p: IvfParams) -> str:
    """Index paths encode every parameter that shapes the structures, so
    a constant (or corpus-size) change builds a fresh index instead of
    silently reading one trained under the old definition (cf.
    dedup.pair_index_table). ``p.maxprobe`` is part of the tag because
    the stored cells table is truncated to r ≤ maxprobe at build time —
    widening it must build fresh postings, never serve the old
    truncated ones. The k/depth components are corpus-derived, so a
    corpus that grows re-tags and retrains automatically."""
    # all-lowercase components: the tag lands in Spark DATABASE names,
    # which the catalog lowercases
    return (
        f"k{p.k}i{KM_ITERS}m{PQ_M}p{p.maxprobe}"
        f"q{PQ_SUBK}h{V.N_PLANES}t{V.LSH_TABLES}s{SQ8_LEVELS}"
    )


def _stored_index(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    bucket_col: str,
    build,
    supersede_prefix: str | None = None,
) -> DataFrame:
    """Store-through ANN index table — the production lifecycle: index
    structures (coarse codebook, cell assignment, PQ codes) are TRAINED
    once per corpus snapshot and persisted; every search reads index
    FILES (``sources/stored.py`` — parameter-tagged paths, bucketed
    layout, DDL re-attach across sessions). ``supersede_prefix`` GCs
    older same-family generations whose tag lives in the TABLE name
    (see ``stored_table``)."""
    return stored.stored_table(
        spark,
        ANN_INDEX_LOCATION,
        "ann_idx",
        sf_dir,
        _index_tag(ivf_params(spark, sf_dir)),
        name,
        bucket_col,
        build,
        src_table="embeddings",
        supersede_prefix=supersede_prefix,
    )


def _lsh_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sig, vec_id, v): the stored LSH postings index — one hash pass
    per corpus snapshot, persisted bucketed by ``sig`` (the join key of
    every bucket-equality search, so a query's bucket probe reads
    co-located files). The postings row carries the VECTOR payload —
    the classic LSH index shape: in-bucket exact scoring reads the
    index alone, never joining back to the corpus (an id-only
    signature table would force a corpus-wide vec_id join per search,
    destroying the sig co-location it was bucketed for). Storage
    duplicates the vectors into the index — the standard trade."""

    def build() -> DataFrame:
        return _emb(spark, sf_dir).select(
            V.lsh_signature(F.col("v"), V.HYPERPLANES).alias("sig"), "vec_id", "v"
        )

    return _stored_index(spark, sf_dir, "lsh_postings", "sig", build)


# Multi-table LSH operating point (the standard lever for single-table
# LSH's recall ceiling): L = vectors.LSH_TABLES (4) independent
# plane-sets, each probed at Hamming radius LSH_MT_RADIUS; a candidate
# qualifies when ANY table buckets it within the radius
# (OR-amplification: per-table miss rates multiply). Measured on the
# DuckDB replay: L=4/r=2 reaches recall@5 0.86 at sf0.1 / 0.82 at
# sf0.01 — the first LSH point to CLEAR the 0.8 target (single-table
# radius-2 tops out at 0.40-0.42) — scanning ~47% of the corpus; L=6/r=2
# reaches 0.94 at ~61% (past the knee). IVF remains the cheaper path on
# this corpus (0.82 at ~33%): data-adaptive cells beat data-independent
# hyperplanes on scan efficiency, and the reason to keep the LSH family
# is structural — no training pass, and inserts are pure appends to the
# postings (no codebook to age).
#
# Governance: ``knn_recall_tradeoff`` sweeps BOTH multi-table axes
# (radius at full L as ``lsh_mt``; table count at the shipped radius as
# ``lsh_mt_tables``) as registered, DuckDB-replayed frontier rows, and
# ``knn_operating_point`` emits the per-snapshot recommendation — (radius
# 2, tables 4) at every test SF: meets_target at sf0.01/sf0.1 (recall@5
# 0.82/0.86), best-recall-flagged at sf0.001 (0.76 — no LSH point
# clears 0.8 on that corpus). Retargeting is a constant change the index
# tag rebuilds automatically.
LSH_MT_RADIUS = 2


def _lsh_mt_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tbl, sig, vec_id, v): the stored MULTI-TABLE LSH postings — one
    row per (table, vector), bucketed by ``sig`` like the single-table
    index. Storage is L× the single-table postings (each table carries
    the vector payload) — the classic multi-table trade: memory buys
    recall with no training pass."""

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        parts = [
            emb.select(
                F.lit(t).alias("tbl"),
                V.lsh_signature(F.col("v"), V.MT_HYPERPLANES[t]).alias("sig"),
                "vec_id",
                "v",
            )
            for t in range(V.LSH_TABLES)
        ]
        return functools.reduce(DataFrame.unionByName, parts)

    return _stored_index(spark, sf_dir, "lsh_mt_postings", "sig", build)


def _lsh_mt_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, cosine, pr_r, pr_t): every pair that some
    table buckets within ``LSH_MT_RADIUS``, exact-scored, ONE row per
    pair (a pair can surface from several tables and masks; its cosine
    is deterministic, so grouping on it is pair-level dedup). The two
    depths are the frontier's two axes: ``pr_r`` is the MINIMUM
    per-table signature distance (the pair qualifies at radius r iff
    ANY table buckets it within r); ``pr_t`` is 1 + the FIRST table that
    buckets it within the radius (probing tables 0..l-1 finds exactly
    the pairs with pr_t ≤ l).

    The probe side reads each query's per-table signature FROM the
    stored postings (the ``vec_id < N_QUERIES`` rows carry exactly the
    signature the build computed): re-deriving it per query means an
    L-branch union that re-scans and re-spreads the embeddings per table
    plus ~2.5k py4j calls for the L×8-plane literal tree — pure planning
    latency (3.7 → ~1.4 s per search when it moved)."""
    post = _lsh_mt_postings(spark, sf_dir)
    probes = (
        post.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("tbl").alias("ptbl"),
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("sig").alias("qsig"),
            F.explode(_mask_probes(LSH_MT_RADIUS)).alias("e"),
        )
        .select(
            "ptbl",
            "query_id",
            "qv",
            F.col("qsig").bitwiseXOR(F.col("e.mask")).alias("psig"),
            F.col("e.d").alias("d"),
        )
    )
    return (
        post.join(
            F.broadcast(probes),
            (F.col("tbl") == F.col("ptbl"))
            & (F.col("sig") == F.col("psig"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", "tbl", "d", _cosine().alias("cosine"))
        .groupBy("query_id", "vec_id", "cosine")
        .agg(
            F.min("d").alias("pr_r"),
            (F.min("tbl") + F.lit(1)).alias("pr_t"),
        )
    )


def knn_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via MULTI-TABLE multi-probe LSH: each query probes, in
    EVERY one of the L independent hash tables, all buckets within
    Hamming radius ``LSH_MT_RADIUS`` of its signature in that table;
    candidates found by any table rank ONCE (:func:`_lsh_mt_scored`
    dedups the pairs).

    Scale shape: the probe side is |queries| × L × |masks| rows —
    always broadcast; the postings are bucket-equality-joined per
    (table, signature) exactly like :func:`knn_lsh`, so at 100 TB each
    table's postings co-locate by signature and a query reads L × probe
    bucket lists. See ``LSH_MT_RADIUS`` for the measured operating
    point and the comparison against IVF. (A cosine_unrolled swap for
    the pair scoring was probed and rejected family-wide: at these
    candidate counts the ~800-node unrolled tree costs more in plan
    analysis than the interpreted fold costs at execution.)"""
    return _top(_lsh_mt_scored(spark, sf_dir), [F.col("cosine").desc()]).select(
        "query_id", "rank", "vec_id", "cosine"
    )


def _codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell_id, cv): the TRAINED coarse codebook — a stored index
    artifact (trained once per corpus snapshot, persisted, re-read by
    every search). K is corpus-derived (≈ 2·√N, ``ivf_params``); at
    ≤ 2^16 cells the codebook always stays broadcast-sized."""
    return _stored_index(
        spark,
        sf_dir,
        "codebook",
        "cell_id",
        lambda: _coarse_codebook(_emb(spark, sf_dir), ivf_params(spark, sf_dir).k),
    )


def _ranked_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell_id, r ≤ ceil(K/2)): each vector's nearest coarse
    cells — the stored coarse-quantizer assignment (the IVF
    postings-list skeleton), bucketed by vec_id. Stored to the derived
    maxprobe depth so the probe count is a QUERY-time knob (searches
    filter r ≤ nprobe) — sweeping the recall/cost frontier never
    retrains. Slim build: the ranking window shuffles (id, cell, score)
    triples only, once per corpus snapshot."""

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        seeds = _codebook(spark, sf_dir)
        cell_rank = emb.join(F.broadcast(seeds)).select(
            "vec_id",
            "cell_id",
            F.round(V.cosine_unrolled("v", "cv"), 6).alias("cell_cos"),
        )
        w_cell = Window.partitionBy("vec_id").orderBy(
            F.col("cell_cos").desc(), F.col("cell_id")
        )
        return (
            cell_rank.withColumn("r", F.row_number().over(w_cell))
            .where(F.col("r") <= ivf_params(spark, sf_dir).maxprobe)
            .select("vec_id", "cell_id", "r")
        )

    return _stored_index(spark, sf_dir, "cells", "vec_id", build)


def _ivf_candidates(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    """(query_id, vec_id, pr): every vector assigned to one of the
    query's ``depth`` nearest cells, ``pr`` = that cell's rank. The probe
    depth is a query-time filter over the ceil(K/2)-deep stored postings
    skeleton, so the frontier sweeps it without retraining. The probe
    side is |queries| × depth rows, always broadcast."""
    cells = _ranked_cells(spark, sf_dir)
    probes = cells.where(
        (F.col("vec_id") < N_QUERIES) & (F.col("r") <= depth)
    ).select(F.col("vec_id").alias("query_id"), "cell_id", F.col("r").alias("pr"))
    return (
        cells.where(F.col("r") == 1)
        .select("vec_id", "cell_id")
        .join(F.broadcast(probes), "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "pr")
    )


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via an IVF coarse quantizer: a TRAINED corpus-sized
    codebook (``_codebook`` — Lloyd's algorithm from the md5-top-K
    deterministic initializer, K ≈ 2·√N) defines cells; every vector is
    assigned to its nearest centroid by cosine; each query scores only
    vectors in its nprobe = ceil(K/3) nearest cells (the operating
    point calibrated from the measured sf0.1 frontier — recall@5 0.82;
    see the module header).

    Scale shape: assignment is |corpus| × K against a broadcast codebook
    (K ∝ √N → the encode pass grows as N^1.5, the classic IVF build
    cost); search is bucket-local like the LSH variant, but cells
    follow the data distribution instead of random hyperplanes, so
    recall degrades more gracefully on clustered corpora. At 100 TB the
    cell id becomes the partition key and per-cell postings lists are
    co-located — the classic IVF layout. Assignment ties and near-ties
    round to 6 decimals with a cell-id tiebreak so the cell structure
    is bit-identical on every engine."""
    cand = _ivf_candidates(spark, sf_dir, ivf_params(spark, sf_dir).nprobe)
    return _top(
        _exact_scored(spark, sf_dir, cand), [F.col("cosine").desc()]
    ).select("query_id", "rank", "vec_id", "cosine")


FILTER_LABEL_MOD = 2  # demo metadata predicate: even labels only


def knn_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN top-5 via the IVF index: only corpus vectors
    whose ``label`` satisfies the predicate (``label % 2 = 0``) are
    candidates — the "filtered vector search" every production retrieval
    system needs (tenant, license, language, freshness filters).

    The production subtlety this operator encodes: a post-filter thins
    every cell's surviving candidates, so a filtered search that kept
    the unfiltered probe depth would silently lose recall. The standard
    fix is probing DEEPER under filters — this searches at the full
    stored postings depth (ceil(K/2)) instead of the unfiltered default
    ceil(K/3).

    Scale shape: identical to :func:`knn_ivf` — stored cells + broadcast
    probes/queries, bucket-local scoring — with the label predicate on
    the vector side of the scoring join, so pruned vectors are never
    scored (a semi-join ahead of the scoring join would add a stage)."""
    emb = _emb(spark, sf_dir)
    cand = _ivf_candidates(spark, sf_dir, ivf_params(spark, sf_dir).maxprobe)
    scored = (
        cand.join(
            emb.where(F.col("label") % FILTER_LABEL_MOD == 0).select("vec_id", "v"),
            "vec_id",
        )
        .join(F.broadcast(_query_side(emb)), "query_id")
        .select("query_id", "vec_id", _cosine().alias("cosine"))
    )
    return _top(scored, [F.col("cosine").desc()]).select(
        "query_id", "rank", "vec_id", "cosine"
    )


# PQ resolution, chosen from the round-9 (M, SUBK) sweep at sf0.1
# (measured under the corpus-derived IVF candidate set, final seed
# rule): subdividing FINER (M 8→16, subdim 8→4) lifts ADC-only
# recall@5 0.22 → 0.28 and — the part that matters — cleans the ADC
# ORDERING enough that RERANK_R=150 recovers the FULL IVF candidate
# ceiling at every test SF (0.82/0.84/0.76 at sf0.1/0.01/0.001), where
# the 8×32 point left 0.06 on the table at sf0.1 (rr@150 0.76 vs 0.82
# ceiling) and needed R≈350 to close it. Growing the sub-codebook at
# fixed M (8×128) buys the same ordering for 56-bit codes vs 80 — the
# chosen 16×32 keeps the per-subspace codebooks tiny (32×4 floats) and
# the encode pass cheaper (|corpus|×32×16 vs ×128×8 sub-distances).
PQ_M = 16  # subspaces; PQ code = M small ids instead of DIM floats
PQ_SUBDIM = V.DIM // PQ_M
PQ_SUBK = 32  # sub-centroids per subspace (classic PQ: 256 at scale)

# OPQ rotation: measured and REJECTED (round 10, with a numpy
# replication of this pipeline whose identity baseline reproduced the
# engine's frontier exactly at sf0.01 max depth, 0.56, and the sf0.1
# non-monotone dip). The ADC ordering's
# probe-depth non-monotonicity at sf0.1 IS a subspace-energy-imbalance
# artifact — an OPQ-P rotation (PCA eigenbasis, eigendirections dealt
# round-robin to subspaces; Ge et al. CVPR 2013) lifts sf0.1 recall at
# every level (0.28→0.38 at the shipped probe depth, decay gone) — but
# it LOSES at sf0.01 (0.50 vs 0.54 at the shipped depth; the 500-row
# covariance estimate overfits), and seeded random rotations lose at
# both SFs. Against the pre-registered two-SF consistency bar the
# rotation does not ship; the production answer to ADC distortion
# stays ``knn_ivfpq_rerank`` (exact rescoring already recovers the
# full IVF candidate ceiling at every SF: 0.82/0.84/0.76). Measured
# rows for both SFs and all four configs are in COVERAGE.md round 10.


# Sub-codebook initializer: the same md5 top-K rule as the coarse
# codebook (``_seed_rows``), truncated at PQ_SUBK — the resolution knob
# is PQ_SUBK itself, never capped by seed availability. The md5 order
# is id-keyed, so the sub-quantizer seed SET is the K-prefix of the
# coarse seed set — harmless: sub-codebooks train on SUBSPACE slices
# (their own Lloyd rounds), which decorrelates them from the coarse
# cells (shared codebook SLICES were measured as the recall
# frontier's distortion floor; training per subspace removed it).


def _subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sv): every vector L2-NORMALIZED, then sliced into its
    PQ_M subspaces. Normalizing first makes the ADC's squared-L2 ranking
    order-equivalent to the cosine ground truth (‖a−b‖² = 2 − 2·cos for
    unit vectors) — without it PQ approximates a metric the evaluation
    doesn't ask about, which the recall frontier exposed as a hard
    ceiling no probe depth could lift."""
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    nrm = F.sqrt(V.dot(F.col("v"), F.col("v")))
    return (
        emb.select(
            "vec_id",
            F.transform("v", lambda x: x / nrm).alias("vn"),
        )
        .select("vec_id", ms, "vn")
        .select(
            "vec_id",
            "m",
            F.slice("vn", F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
        )
    )


def _pq_subcodebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, cell_id, sc): per-subspace TRAINED sub-codebooks — classic PQ
    training: KM_ITERS Lloyd rounds (:func:`_lloyd`, keyed by ``m``) over
    each subspace's own subvector distribution, every subspace in ONE
    pass per round. Stored index artifact like the coarse codebook;
    always tiny (≤ PQ_M × PQ_SUBK rows) and broadcast."""

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        subs = _subvectors(emb)
        seed_ids = _seed_rows(emb, PQ_SUBK).select("vec_id")
        seeds = subs.join(F.broadcast(seed_ids), "vec_id").select(
            "m", F.col("vec_id").alias("cid"), F.col("sv").alias("sc")
        )
        return _lloyd(subs, seeds, ["m"], "sv", "sc", PQ_SUBDIM).select(
            "m", F.col("cid").alias("cell_id"), "sc"
        )

    return _stored_index(spark, sf_dir, "pq_subcodebook", "m", build)


def _pq_dist_rows(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """(vec_id, m, cell_id, d2): per-subspace squared distances of the
    given vectors to every TRAINED sub-centroid of that subspace. The
    sub-distance is the codegen'd unrolled chain
    (``vectors.sq_dist_unrolled``) — the interpreted fold ran the
    |rows|×|sub-centroids|×M pass ~2× slower."""
    sseeds = _pq_subcodebook(spark, sf_dir)
    return _subvectors(emb).join(F.broadcast(sseeds), "m").select(
        "vec_id",
        "m",
        "cell_id",
        V.sq_dist_unrolled("sv", "sc", PQ_SUBDIM).alias("d2"),
    )


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code): the stored PQ code table — THE compressed index
    artifact (M small ids per vector, never the floats), built by one
    |corpus|×|cells|×M encode pass per corpus snapshot and persisted
    bucketed by vec_id. Argmin via struct-min groupBy (map-side collapse;
    a ranked window would shuffle the full encode relation unreduced)
    with the (d2, cell_id) tie rule."""

    def build() -> DataFrame:
        dists = _pq_dist_rows(spark, sf_dir, _emb(spark, sf_dir))
        return (
            dists.groupBy("vec_id", "m")
            .agg(F.min(F.struct("d2", "cell_id")).alias("s"))
            .select("vec_id", "m", F.col("s.cell_id").alias("code"))
        )

    return _stored_index(spark, sf_dir, "pq_codes", "vec_id", build)


def _pq_query_dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, m, cell_id, qd2): the query-side ADC lookup table —
    computed fresh per search (|queries|×|cells|×M rows, trivially
    small; production computes it per query batch against the stored
    codebook, never stores it)."""
    queries = _emb(spark, sf_dir).where(F.col("vec_id") < N_QUERIES)
    return _pq_dist_rows(spark, sf_dir, queries).select(
        F.col("vec_id").alias("query_id"),
        "m",
        "cell_id",
        F.col("d2").alias("qd2"),
    )


def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via product quantization with asymmetric distance
    computation (ADC) — the memory-side ANN method: each vector compresses
    to ``PQ_M`` codebook ids (one per PQ_SUBDIM-dim subspace; sub-codebooks
    are TRAINED per subspace — classic PQ, ``_pq_subcodebook``; the
    encode pass stays |corpus| × PQ_SUBK × M with PQ_SUBK fixed), and a
    query scores a vector
    by summing its PRECOMPUTED query→centroid sub-distances for the
    vector's codes — the scan touches M small ints per vector, never the
    floats.

    Scale shape: encoding is |corpus| × |cells| × M against a broadcast
    codebook (the classic PQ encode pass, run once per corpus snapshot
    and stored); search reads the code table only, and the query's
    distance lookup table (|queries| × |cells| × M rows) broadcasts. At
    real scale this composes with the IVF coarse quantizer (IVF-PQ):
    cells prune the scan, codes compress what remains.

    Determinism: sub-distances are identical left-to-right folds on both
    engines; the M per-subspace distances accumulate in DECIMAL(25,10)
    (order-free — they arrive via a groupBy) and ranking orders by the
    exact decimal before rounding for display."""
    codes = _pq_codes(spark, sf_dir)
    qdists = _pq_query_dists(spark, sf_dir).withColumnRenamed("m", "qm")
    scored = (
        codes.join(
            F.broadcast(qdists),
            (codes.m == F.col("qm")) & (codes.code == F.col("cell_id")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum(ex.dec("qd2")).alias("adec"))
    )
    return _top(scored, [F.col("adec").asc()]).select(
        "query_id",
        "rank",
        "vec_id",
        F.round(F.col("adec").cast("double"), 6).alias("approx_d2"),
    )


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via IVF-PQ — the production ANN layout: the IVF coarse
    quantizer prunes the candidate set to the query's nprobe = ceil(K/3)
    nearest cells, and PQ/ADC scores the survivors from their M codebook
    ids — the scan touches neither the full corpus nor any full vector.

    This composes :func:`knn_ivf`'s cell assignment with :func:`knn_pq`'s
    code table; both stay broadcast-or-bucket-local, so at 100 TB the
    per-cell postings lists hold (vec_id, M codes) rows and a query reads
    nprobe postings lists against a broadcast distance-lookup table.

    Both index structures come from the shared STORED builders
    (``_ranked_cells`` / ``_pq_codes``) — one coarse assignment and one
    encode pass per corpus snapshot serve knn_ivf, knn_pq, and this
    composition, and every search reads index files."""
    scored = _ivfpq_adc_scored(spark, sf_dir, ivf_params(spark, sf_dir).nprobe)
    return _top(scored, [F.col("adec").asc()]).select(
        "query_id",
        "rank",
        "vec_id",
        F.round(F.col("adec").cast("double"), 6).alias("approx_d2"),
    )


def _ivfpq_adc_scored(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    """(query_id, vec_id, pr, adec): the IVF candidates at ``depth``,
    ADC-scored from their PQ codes alone."""
    qdists = _pq_query_dists(spark, sf_dir).select(
        F.col("query_id").alias("qq"),
        F.col("m").alias("qm"),
        F.col("cell_id").alias("qcell"),
        "qd2",
    )
    return (
        _ivf_candidates(spark, sf_dir, depth)
        .join(_pq_codes(spark, sf_dir), "vec_id")
        .join(
            F.broadcast(qdists),
            (F.col("query_id") == F.col("qq"))
            & (F.col("m") == F.col("qm"))
            & (F.col("code") == F.col("qcell")),
        )
        # pr is fixed per pair, so grouping on it keeps one row per pair
        .groupBy("query_id", "vec_id", "pr")
        .agg(F.sum(ex.dec("qd2")).alias("adec"))
    )


RERANK_R = 150  # exact-rescored shortlist per query (30×k — at this
# R the rerank recovers the FULL IVF candidate ceiling at every test SF
# under the PQ point (M=16): measured recall@5 0.82/0.84/0.76 at
# sf0.1/0.01/0.001 = the IVF ceilings exactly; the residual gap to 1.0
# is governed by nprobe, not R. R is a resolution-dependent knob: the
# same sweep showed M=8 codes needed R≈350 to recover the sf0.1 ceiling
# — sharper codes buy a 2.3× smaller rerank read.)


def knn_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via the full production three-stage pipeline: IVF
    prunes to nprobe cells, PQ/ADC shortlists the top ``RERANK_R``
    candidates from codes alone, and an EXACT cosine pass re-ranks only
    those R full vectors per query. This is the standard answer to the
    PQ distortion ceiling (ADC-only recall saturates ~0.34 at the
    shipped resolution point — and sub-codebook SIZE barely moves it;
    see the PQ_M comment): re-ranking recovers recall up to the IVF
    candidate ceiling while reading just R × DIM floats per query
    instead of a full scan — measured to recover the ceiling exactly
    at every test SF.

    Scale shape: stages 1-2 are the stored-index scans of
    :func:`knn_ivfpq`; stage 3 reads R full vectors per query via a
    bucketed join on vec_id — per-query I/O is bounded by R, not the
    corpus."""
    return _rerank_exact(
        spark,
        sf_dir,
        _ivfpq_adc_scored(spark, sf_dir, ivf_params(spark, sf_dir).nprobe),
        [F.col("adec").asc()],
        RERANK_R,
    )


def _rerank_exact(
    spark: SparkSession,
    sf_dir: str,
    scored: DataFrame,
    shortlist_order: list,
    depth: int,
) -> DataFrame:
    """Stage 3 of a rerank pipeline, shared by :func:`knn_ivfpq_rerank`
    and :func:`knn_sq8_rerank`: cut the approximate-scored candidate
    relation to the per-query top-``depth`` shortlist (under the
    method's own ordering), then re-score exactly those rows with the
    exact cosine and emit the final top-``TOP_K``."""
    shortlist = _top(scored, shortlist_order, depth).select("query_id", "vec_id")
    return _top(
        _exact_scored(spark, sf_dir, shortlist), [F.col("cosine").desc()]
    ).select("query_id", "rank", "vec_id", "cosine")


# --- Scalar quantization (SQ8) ----------------------------------------
# The compression path ORTHOGONAL to candidate pruning: every vector is
# L2-normalized and each component quantized to a signed 8-bit code, so
# a scan reads 1 byte/dim instead of 8 (float64 image) — the classic
# SQ8 trade (cf. FAISS ScalarQuantizer): full-recall-shaped scans at
# 1/8 the I/O, with recall loss only from quantization resolution
# (measured ≥0.94 recall@5 at every test SF, vs 0.8 for the pruning
# methods). At 100 TB the two compose — SQ8 codes inside IVF cells —
# but the registered operator keeps them separate so the frontier can
# attribute recall loss to one mechanism at a time.
SQ8_LEVELS = 127  # symmetric signed 8-bit code range [-127, 127]

# Rerank depths swept by the sq8_rr frontier axis (exact re-scoring of
# the integer-dot top-C per query); SQ8_RERANK_R is the shipped depth —
# chosen as the cheapest swept level whose measured recall recovers the
# IVF candidate ceiling at every test SF (the quantization loss the
# rerank exists to buy back is <= 0.02, so a shallow shortlist suffices;
# cf. knn_ivfpq_rerank's RERANK_R = 150, which must also absorb the much
# larger ADC distortion).
SQ8_RERANK_LEVELS = (10, 25, 50, 100)
SQ8_RERANK_R = 50


def _sq8_clamped_code(x, scale):
    """floor(x·scale + 0.5) clamped to the code range — analytically the
    clamp never fires (|x| ≤ max|u| ⇒ |x·scale| ≤ SQ8_LEVELS and the
    +0.5 offset cannot carry past the next integer), but in non-ANSI
    mode a silent FP excess would WRAP the byte cast to -128 and diverge
    from the BIGINT oracle instead of failing loudly (round-10 ADVICE) —
    the bound is now explicit, mirrored in ``_SQ8_CODE_SQL``."""
    q = F.floor(x * scale + F.lit(0.5))
    return F.least(F.lit(SQ8_LEVELS), F.greatest(F.lit(-SQ8_LEVELS), q))


# the DuckDB mirror of _sq8_clamped_code, over a list element ``x`` and
# the corpus-scale column ``sc`` (both oracles and the frontier replay
# splice this single definition, so clamp semantics cannot drift)
_SQ8_CODE_SQL = (
    f"LEAST({SQ8_LEVELS}, GREATEST(-{SQ8_LEVELS}, "
    "CAST(FLOOR(x * sc + 0.5) AS BIGINT)))"
)


def _sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, qv): the stored SQ8 code table. Codes are
    ``floor(u_d · s + 0.5)`` over the L2-normalized image with the
    CORPUS-DERIVED scale ``s = 127 / max|u_d|`` — a per-snapshot scalar
    (one MAX aggregate), so the quantizer tracks the corpus like the
    IVF K rule and never ships a constant that decays; codes are
    guaranteed in [-127, 127] (u_d ≤ max|u_d| by construction, and the
    +0.5 offset cannot carry a sub-ulp excess past the next integer),
    stored as BYTE for the honest 1-byte/dim footprint."""

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        nrm = F.sqrt(V.dot(F.col("v"), F.col("v")))
        u = emb.select(
            "vec_id", "label", F.transform("v", lambda x: x / nrm).alias("vn")
        )
        mx = u.agg(
            F.max(F.array_max(F.transform("vn", lambda x: F.abs(x)))).alias(
                "max_abs"
            )
        )
        scale = F.lit(float(SQ8_LEVELS)) / F.col("max_abs")
        return u.join(F.broadcast(mx)).select(
            "vec_id",
            "label",
            F.transform(
                "vn", lambda x: _sq8_clamped_code(x, scale).cast("byte")
            ).alias("qv"),
        )

    return _stored_index(spark, sf_dir, "sq8_codes", "vec_id", build)


def _sq8_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): the stored SQ8 codes widened to long — the integer
    image both sides of an SQ8 dot read (queries are corpus members)."""
    return _sq8_codes(spark, sf_dir).select(
        "vec_id", F.transform("qv", lambda x: x.cast("long")).alias("v")
    )


def _sq8_dot():
    """The symmetric integer SQ8 dot of ``qv`` and ``v`` (≤ 64 · 127² ≈
    10⁶ per pair — overflow-free in long)."""
    return V.dot_unrolled(F.col("qv"), F.col("v")).cast("long").alias("qdot")


def knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 over the SQ8 code table: symmetric quantized dot —
    queries are corpus members, so BOTH sides read codes from the
    stored index and the score is a pure INTEGER dot product, making
    the ranking bit-deterministic on any engine with no float
    comparison anywhere.

    Scale shape: same as brute force (broadcast query side, partition-
    parallel scan, per-query top-k) but the scan touches 1/8 the bytes;
    the unrolled integer product chain stays in whole-stage codegen."""
    codes = _sq8_vectors(spark, sf_dir)
    scored = codes.join(
        F.broadcast(_query_side(codes)), F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id", _sq8_dot())
    return _top(scored, [F.col("qdot").desc()]).select(
        "query_id", "rank", "vec_id", "qdot"
    )


def knn_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via the IVF × SQ8 COMPOSITION — the production point
    the two mechanisms exist for (cf. FAISS IVF-SQ): the trained coarse
    quantizer prunes to nprobe cells (the scan-fraction lever), and the
    surviving candidates score by the symmetric integer SQ8 dot (the
    bytes-per-row lever) — so a search reads ~1/3 of the rows at 1/8
    the bytes each, with recall paying both mechanisms' losses at once
    (measured recall@5 0.76/0.82/0.82 at sf0.001/0.01/0.1 vs the IVF
    ceiling 0.76/0.84/0.82 — quantization costs <= 0.02 on top of
    pruning).
    Ranking is pure integer comparison; both stored indexes are the
    ones the standalone methods read, so the composition adds zero
    index state."""
    scored = _ivf_sq8_scored(spark, sf_dir, ivf_params(spark, sf_dir).nprobe)
    return _top(scored, [F.col("qdot").desc()]).select(
        "query_id", "rank", "vec_id", "qdot"
    )


def _ivf_sq8_scored(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    """(query_id, vec_id, pr, qdot): the IVF candidates at ``depth``,
    scored by the integer SQ8 dot."""
    codes = _sq8_vectors(spark, sf_dir)
    return (
        _ivf_candidates(spark, sf_dir, depth)
        .join(codes, "vec_id")
        .join(F.broadcast(_query_side(codes)), "query_id")
        .select("query_id", "vec_id", "pr", _sq8_dot())
    )


def knn_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via IVF × SQ8 with EXACT RE-RANKING (cf. FAISS
    IndexRefine over IVF-SQ): the trained cells prune, the integer SQ8
    dot shortlists the top ``SQ8_RERANK_R`` candidates per query, and an
    exact cosine pass re-scores only that shortlist — buying back the
    ≤ 0.02 quantization loss :func:`knn_ivf_sq8` pays, measured to
    recover the IVF candidate ceiling at every test SF (the same way
    :func:`knn_ivfpq_rerank` completes the PQ lifecycle). The shipped
    depth is governed by the ``sq8_rr`` frontier axis in
    :func:`knn_recall_tradeoff` (rerank depth vs exactly-rescored rows).

    Scale shape: stages 1-2 are the stored-index scans of
    :func:`knn_ivf_sq8` (≈ 1/3 of the rows at 1/8 the bytes); stage 3
    reads ``SQ8_RERANK_R`` full vectors per query via the bucketed
    vec_id join — per-query I/O bounded by R, not the corpus."""
    return _rerank_exact(
        spark,
        sf_dir,
        _ivf_sq8_scored(spark, sf_dir, ivf_params(spark, sf_dir).nprobe),
        [F.col("qdot").desc()],
        SQ8_RERANK_R,
    )


RECALL_METHODS = (
    "lsh",
    "lsh_mt",
    "ivf",
    "pq",
    "ivfpq",
    "ivfpq_rr",
    "sq8",
    "ivf_sq8",
    "sq8_rr",
)

# Per-family recall reports: one all-methods report was the bench's
# most expensive query and its cost grew with EVERY new ANN method, so
# each family pays its own ground-truth comparison and a new method only
# enlarges its own family's bill. The report's cost is CRITICAL-PATH
# latency (~15 sequential tiny stages per method pipeline), not
# redundant compute, so the bounding lever is methods-per-report: each
# hybrid half carries one composition plus its rerank. The families
# partition RECALL_METHODS, so their union is the full per-method
# report exactly (pinned by test).
RECALL_FAMILIES: dict[str, tuple[str, ...]] = {
    "lsh": ("lsh", "lsh_mt"),
    "prune": ("ivf",),
    "compress": ("pq", "sq8"),
    "hybrid_pq": ("ivfpq", "ivfpq_rr"),
    "hybrid_sq8": ("ivf_sq8", "sq8_rr"),
}


def knn_recall_report(
    spark: SparkSession,
    sf_dir: str,
    methods: tuple[str, ...] = RECALL_METHODS,
) -> DataFrame:
    """Recall@k of the named ANN methods against the brute-force ground
    truth — the evaluation a pipeline runs before trusting an index, and
    the pin on the recall cost of the fixed-K codebook rework: per
    method, how many of each query's true top-``TOP_K`` neighbors the
    approximate search returned (micro-averaged over queries). The
    registered queries are the per-FAMILY slices
    (``knn_recall_report_{lsh,prune,compress,hybrid_pq,hybrid_sq8}`` —
    ``RECALL_FAMILIES``); the all-methods default exists for tests and
    ad-hoc evaluation, and the family union equals it exactly.

    Scale shape: each method's result is |queries| × k rows — the
    comparison is dimension-sized regardless of corpus size, and every
    index structure comes from the shared memoized builders, so a
    report costs one brute-force scan plus per-method tiny joins.
    Recall is an exact integer ratio (one IEEE division) — fully
    oracle-able because every input ranking is deterministic.

    A composition and its rerank re-derive the same scored-candidate
    relation; materializing it once (eager ``localCheckpoint`` or
    ``persist``+count) measured SLOWER at sf0.1 (6.6-7.6 s vs 5.5 s):
    the duplicate subtrees run in PARALLEL union branches on idle
    cores, so the redundancy costs CPU, not wall-clock, while an eager
    materialization serializes scoring before the report (a lazy
    ``persist`` is a no-op — both branches race past the unfilled cache
    inside the single action).

    Per method the only stages are its own search pipeline plus one
    shared count aggregate: recall_at_k = Σ hits / Σ truth, and
    n_queries/n_true are method-independent corpus constants, attached
    by a constant-key broadcast join. Seeding from the literal method
    list guarantees a row per method even at zero hits."""
    bf = _bf_table(spark, sf_dir).select("query_id", "vec_id")
    impls = {
        "lsh": knn_lsh,
        "lsh_mt": knn_lsh_multitable,
        "ivf": knn_ivf,
        "pq": knn_pq,
        "ivfpq": knn_ivfpq,
        "ivfpq_rr": knn_ivfpq_rerank,
        "sq8": knn_sq8,
        "ivf_sq8": knn_ivf_sq8,
        "sq8_rr": knn_sq8_rerank,
    }
    per = [
        bf.join(
            impls[name](spark, sf_dir).select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "left_semi",
        ).select(F.lit(name).alias("method"))
        for name in methods
    ]
    counts = (
        functools.reduce(DataFrame.unionByName, per)
        .groupBy("method")
        .agg(F.count("*").alias("n_hits"))
    )
    totals = bf.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count("*").alias("n_true"),
    )
    seed = bf.sparkSession.createDataFrame(
        [(m,) for m in methods], "method string"
    )
    return (
        seed.withColumn("j", F.lit(1))
        .join(F.broadcast(counts), "method", "left")
        .join(F.broadcast(totals.withColumn("j", F.lit(1))), "j")
        .select(
            "method",
            "n_queries",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.col("n_true").cast("long").alias("n_true"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_true"), 6
            ).alias("recall_at_k"),
        )
    )


def _recall_report_family(family: str):
    methods = RECALL_FAMILIES[family]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return knn_recall_report(spark, sf_dir, methods)

    run.__name__ = f"knn_recall_report_{family}"
    run.__doc__ = (
        f"Per-family recall report ({family}: {', '.join(methods)}) — "
        "see knn_recall_report."
    )
    return run


def build_indexes(spark: SparkSession, sf_dir: str) -> None:
    """Force-build every stored ANN index artifact for the corpus (the
    trained coarse codebook, the ceil(K/2)-deep postings skeleton, the
    PQ code table). The once-per-corpus-snapshot training step the
    bench harness times as ``index_build_s`` — searches then measure
    warm-index reads, which is the production steady state.

    The artifact chains are INDEPENDENT of each other (each writes its
    own stored table; dependencies only run within a chain), and every
    build is a sequence of small latency-bound jobs that leaves most of
    the cluster idle — so the chains overlap and back-fill each other's
    stage tails (Spark's scheduler runs concurrent jobs FIFO). The
    frontier sweep consumes every other artifact, so it runs after them."""
    _corpus_n(spark, sf_dir)  # prime the shared N lookup once
    stored.overlap(
        lambda: (_codebook(spark, sf_dir), _ranked_cells(spark, sf_dir)),
        lambda: (_pq_subcodebook(spark, sf_dir), _pq_codes(spark, sf_dir)),
        lambda: _lsh_postings(spark, sf_dir),
        lambda: _lsh_mt_postings(spark, sf_dir),
        lambda: _sq8_codes(spark, sf_dir),
        lambda: _bf_table(spark, sf_dir),
    )
    # the history-only codebook is the one artifact the frontier sweep
    # does NOT consume, so its Lloyd training overlaps the sweep
    stored.overlap(
        lambda: _frontier_table(spark, sf_dir),
        lambda: _hist_codebook(spark, sf_dir),
    )


# IVF / IVF-PQ probe depths swept: corpus-derived fractions of K
# (ceil of K/16, K/8, K/4, K/3, K/2 — ``IvfParams.levels``); max level
# = the stored postings depth by construction. LSH radii stay static
# (the signature width is corpus-independent).
TRADEOFF_RADII = (0, 1, 2)  # LSH Hamming multi-probe radii swept


def _probe_levels(levels: tuple[int, ...]):
    return F.explode(F.array(*[F.lit(int(x)) for x in levels])).alias("probe")


def _recall_frontier_rows(
    scored: DataFrame,
    bf: DataFrame,
    truth: DataFrame,
    levels: tuple[int, ...],
    method: str,
    order_cols: list,
) -> DataFrame:
    """One frontier row per probe level from leveled scored candidates
    (query_id, vec_id, pr, score...): rank within (probe, query) over
    the candidates discovered at depth ≤ probe, count ground-truth hits,
    and count the scanned candidate rows — recall vs cost, per level,
    from ONE scoring pass (the level dimension is an explode+filter over
    the already-scored pairs, never a re-search)."""
    s = scored.select("*", _probe_levels(levels)).where(
        F.col("pr") <= F.col("probe")
    )
    cand_rows = s.groupBy("probe").agg(F.count("*").alias("cand_rows"))
    w = Window.partitionBy("probe", "query_id").orderBy(*order_cols, "vec_id")
    topk = s.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= TOP_K
    )
    hits = (
        topk.join(bf, ["query_id", "vec_id"], "left_semi")
        .groupBy("probe", "query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    grid = truth.select("*", _probe_levels(levels))
    per = grid.join(hits, ["probe", "query_id"], "left").select(
        "probe",
        "query_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        "n_true",
    )
    return (
        per.groupBy("probe")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum("n_hits").cast("long").alias("n_hits"),
            F.sum("n_true").cast("long").alias("n_true"),
            F.round(F.sum("n_hits") / F.sum("n_true"), 6).alias(
                "recall_at_k"
            ),
        )
        .join(cand_rows, "probe", "left")
        .select(
            F.lit(method).alias("method"),
            "probe",
            "n_queries",
            "n_hits",
            "n_true",
            "recall_at_k",
            F.coalesce("cand_rows", F.lit(0)).cast("long").alias("cand_rows"),
        )
    )


def _lsh_probe_masks(radius: int) -> list[tuple[int, int]]:
    """All (xor-mask, Hamming distance) pairs up to ``radius`` — 37
    masks for 8 planes at radius ≤ 2. Multi-probe LSH: a query also
    scans the buckets whose signature differs in ≤ radius bits, the
    standard recall lever that needs no extra tables."""
    return [
        (m, bin(m).count("1"))
        for m in range(2**V.N_PLANES)
        if bin(m).count("1") <= radius
    ]


def _recall_tradeoff_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frontier COMPUTATION (see :func:`knn_recall_tradeoff` for
    semantics): six (method, scored, levels, order) slices, each scored
    ONCE at its maximum depth by the same candidate function its
    registered search calls, folded through :func:`_recall_frontier_rows`.
    Runs once per corpus snapshot as the ``recall_frontier``
    stored-index build — queries read the materialized rows.

    ``cand_rows`` counts the scored pairs at each level: distinct
    (query, candidate) pairs for every method (the multi-table pairs
    are deduplicated before the count), and for ``sq8_rr`` the rows the
    exact pass re-scores at rerank depth C — the full-vector reads that
    method pays. The L× postings-read amplification of multi-table LSH
    is index IO, reported by the index footprint, not here.

    The slices stay one fused union: materializing them concurrently
    via pooled eager ``localCheckpoint``s measured as noise (ann build
    19.5 → 19.2 s), because they share the IVF candidate subtree and
    recomputing it per thread cancels the overlap."""
    p = ivf_params(spark, sf_dir)
    bf = _bf_table(spark, sf_dir).select("query_id", "vec_id")
    truth = bf.groupBy("query_id").agg(F.count("*").alias("n_true"))
    by_cos = [F.col("cosine").desc()]
    mt = _lsh_mt_scored(spark, sf_dir)
    # sq8_rr depth = the candidate's integer-dot rank within the query's
    # IVF×SQ8 candidates at the SHIPPED nprobe, so recall at level C is
    # knn_sq8_rerank's recall with R = C; depths past the deepest level
    # never qualify, so they are cut before the full-vector join
    sq8_short = _top(
        _ivf_sq8_scored(spark, sf_dir, p.nprobe),
        [F.col("qdot").desc()],
        max(SQ8_RERANK_LEVELS),
    ).select("query_id", "vec_id", F.col("rank").alias("pr"))
    slices = [
        (
            "lsh",
            _lsh_scored(spark, sf_dir, max(TRADEOFF_RADII)),
            TRADEOFF_RADII,
            by_cos,
        ),
        (
            "ivf",
            _exact_scored(spark, sf_dir, _ivf_candidates(spark, sf_dir, max(p.levels))),
            p.levels,
            by_cos,
        ),
        (
            "ivfpq",
            _ivfpq_adc_scored(spark, sf_dir, max(p.levels)),
            p.levels,
            [F.col("adec").asc()],
        ),
        ("lsh_mt", mt.withColumnRenamed("pr_r", "pr"), TRADEOFF_RADII, by_cos),
        (
            "lsh_mt_tables",
            mt.withColumnRenamed("pr_t", "pr"),
            tuple(range(1, V.LSH_TABLES + 1)),
            by_cos,
        ),
        ("sq8_rr", _exact_scored(spark, sf_dir, sq8_short), SQ8_RERANK_LEVELS, by_cos),
    ]
    return functools.reduce(
        DataFrame.unionByName,
        [
            _recall_frontier_rows(scored, bf, truth, levels, method, order)
            for method, scored, levels, order in slices
        ],
    )


def _frontier_tag() -> str:
    """Frontier-SPECIFIC tag components (round-10 ADVICE: the shared
    ``_index_tag`` covers the index-shaping constants — K/depth, PQ
    resolution, plane/table count, sq8 levels — but NOT the constants
    that shape only the frontier EVALUATION; a change to any of these
    must rebuild the stored rows, never serve stale ones). Lowercase:
    the tag lands in Spark database/table names."""
    # Separator-joined like SQ8_RERANK_LEVELS (round-11 ADVICE: an
    # unseparated digit join collides distinct tuples — (1,2) vs (12,)
    # — into one tag, exactly the staleness the tag exists to prevent).
    rad = "_".join(str(r) for r in TRADEOFF_RADII)
    rr = "_".join(str(x) for x in SQ8_RERANK_LEVELS)
    return f"r{rad}x{LSH_MT_RADIUS}n{N_QUERIES}k{TOP_K}c{rr}"


def _frontier_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(method, probe, …): the STORED recall/cost frontier — evaluated
    once per corpus snapshot like every other index artifact (the
    frontier is a deterministic function of the stored indexes and the
    corpus, so re-scoring it per consumer is pure waste: before this
    table, `knn_recall_tradeoff` and `knn_operating_point` each ran
    the full one-pass-per-method scoring independently — ~6 s apiece
    at sf0.1 for identical rows). The shared index tag encodes the
    index-shaping knobs; the name carries :func:`_frontier_tag` for the
    evaluation-shaping ones (sweep radii, query-set size, top-k, rerank
    depths), so a changed operating space OR a changed sweep rebuilds
    it."""
    return _stored_index(
        spark,
        sf_dir,
        f"recall_frontier_{_frontier_tag()}",
        "method",
        lambda: _recall_tradeoff_frame(spark, sf_dir),
        # the frontier tag lives in the TABLE name, so a tag change
        # (format or constants) would orphan the old generation in the
        # same database forever — GC it on first build (round-12 ADVICE;
        # no trailing underscore: the r10 generation was the bare
        # "recall_frontier" name)
        supersede_prefix="recall_frontier",
    )


def knn_recall_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-scanned-rows frontier for every tunable ANN method
    — the evaluation that picks an operating point (at the defaults LSH
    reached recall@5 0.04 and IVF-PQ 0.10 — too low to ship, so sweep
    the knobs): IVF and IVF-PQ over the corpus-derived probe depths
    (``IvfParams.levels`` — ceil of K/16 … K/2; the shipped ceil(K/3)
    point and the stored-depth maximum are both levels), LSH over
    Hamming multi-probe radius ∈ ``TRADEOFF_RADII``, the MULTI-TABLE
    family over both of its knobs — ``lsh_mt`` sweeps the radius at the
    full L stored tables, ``lsh_mt_tables`` sweeps the table count at
    the shipped radius — and ``sq8_rr`` over the rerank depth, so every
    shipped operating point is governed by a registered, DuckDB-replayed
    frontier instead of an offline grid. Output per (method, probe):
    micro-averaged recall@k against the brute-force ground truth plus
    the scanned candidate-row count — the cost axis of the frontier.

    Scale shape: every level reuses ONE scoring pass per method (each
    candidate pair carries the probe depth that discovered it: the
    stored postings rank for IVF, the mask's Hamming distance for LSH),
    so the sweep costs one max-depth search per method, not one search
    per level; the pass is the registered search's own candidate
    function. All index structures are STORED artifacts — sweeping
    never retrains — and the frontier ROWS are themselves a
    stored per-snapshot artifact (:func:`_frontier_table`, billed with
    the index builds): this query and :func:`knn_operating_point` both
    read the materialized table instead of each re-running the scoring
    pass. Deterministic end-to-end, so DuckDB replays the whole frontier
    exactly."""
    return _frontier_table(spark, sf_dir)


RECALL_TARGET = 0.8  # the recall floor an operating point must clear


def knn_operating_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autotune-as-a-query (round 9 — the FAISS-autotune shape): fold
    the measured recall/cost frontier (:func:`knn_recall_tradeoff`)
    into each method's RECOMMENDED operating point — the cheapest probe
    depth whose measured recall@k clears ``RECALL_TARGET``, or, when no
    depth clears it (LSH on this corpus), the best-recall point with
    ``meets_target = false``. This is the query a pipeline runs against
    each corpus snapshot to re-derive the knobs the IVF family ships as
    the closed-form ceil(K/3) default — the closed form is the cheap
    standing rule; this is the measured authority it's calibrated
    against. Since round 10 it also emits the MULTI-TABLE LSH
    recommendation on both axes (``lsh_mt`` = radius, ``lsh_mt_tables``
    = table count): the shipped ``LSH_MT_RADIUS``/``vectors.LSH_TABLES``
    constants match it at every test SF (pinned by test).

    Scale shape: input is the |methods| × |levels| frontier (already
    micro-averaged — the corpus was scanned by the sweep, once per
    method); the selection is a rank over ≤ ~15 rows. Deterministic:
    the tie rule (clears-target first, then cheapest probe, then best
    recall) is a shared ORDER BY replayed exactly in DuckDB."""
    fr = knn_recall_tradeoff(spark, sf_dir)
    meets = F.col("recall_at_k") >= RECALL_TARGET
    w = Window.partitionBy("method").orderBy(
        meets.desc(),
        F.when(meets, F.col("probe")).otherwise(F.lit(2**31 - 1)).asc(),
        F.col("recall_at_k").desc(),
        F.col("probe").asc(),
    )
    return (
        fr.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "method",
            "probe",
            "recall_at_k",
            "cand_rows",
            meets.alias("meets_target"),
        )
    )


def knn_index_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX INTEGRITY + FOOTPRINT audit — the STORAGE axis the recall
    frontier doesn't report (round 11, completing the ANN lifecycle:
    recall → recall/cost frontier → operating point → maintenance →
    footprint): one row per stored ANN artifact with its persisted row
    count and amplification vs the corpus (``rows_per_vector`` — the
    cost a structure adds per indexed vector: multi-table LSH pays L×,
    PQ codes pay M sub-ids, the postings skeleton pays maxprobe ranked
    cells, the codebooks and evaluation artifacts are sub-linear).

    The integrity half: Spark COUNTS THE STORED FILES, while the DuckDB
    oracle derives the same counts from the index DEFINITIONS (replaying
    the trainings — surviving-cell counts are data-dependent), so the
    driver's equality gate certifies the persisted artifacts still match
    their definitions — the staleness/bloat audit an index fleet runs
    per corpus snapshot before trusting the warm-read path.

    Scale shape: nine metadata-scale aggregates over stored index
    tables plus one corpus count; nothing touches vector payloads."""
    n = _corpus_n(spark, sf_dir)
    arts = [
        ("ground_truth", _bf_table),
        ("ivf_codebook", _codebook),
        ("ivf_postings", _ranked_cells),
        ("lsh_mt_postings", _lsh_mt_postings),
        ("lsh_postings", _lsh_postings),
        ("pq_codes", _pq_codes),
        ("pq_subcodebook", _pq_subcodebook),
        ("recall_frontier", _frontier_table),
        ("sq8_codes", _sq8_codes),
    ]
    parts = [
        t(spark, sf_dir)
        .agg(F.count("*").cast("long").alias("n_rows"))
        .select(F.lit(name).alias("artifact"), "n_rows")
        for name, t in arts
    ]
    return (
        functools.reduce(DataFrame.unionByName, parts)
        .select(
            "artifact",
            "n_rows",
            F.round(F.col("n_rows") / F.lit(float(n)), 6).alias(
                "rows_per_vector"
            ),
        )
        .orderBy("artifact")
    )


GC_AUDIT_LOCATION = "/tmp/abda_gc_audit"
# The stale-params generation is planted under the factor-1.0
# PREDECESSOR of the shipped K = clamp(ceil(2.0·sqrt(N)), 8, 65536)
# coarse-quantizer sizing (the r8-era fixed operating point's shape).
# Interpolated into BOTH engines' expressions (round-12 ADVICE
# discipline for shared formula constants).
GC_SUPERSEDED_K_FACTOR = 1.0


def _gc_k_old(n: int) -> int:
    """Coarse-quantizer size under the superseded factor-1.0 rule."""
    import math

    return min(
        max(math.ceil(GC_SUPERSEDED_K_FACTOR * math.sqrt(n)), IVF_K_MIN),
        IVF_K_MAX,
    )


def knn_index_gc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STALE-GENERATION warehouse GC audit — ``knn_index_footprint``'s
    sibling (round 13, closing the index-storage lifecycle: integrity →
    footprint → GC): which stored index GENERATIONS are stale under the
    current tags, what they hold, and which the nightly sweep reclaims.
    The parameter-tagged path scheme (``sources/stored.py``) guarantees
    a superseded tag is never read again, so every non-live generation
    is pure disk leak — the class round-12 ADVICE observed on a
    tag-format change. ``stored_table``'s build-time pruning only fires
    when a NEW generation is built; :func:`gc_stale_generations` is the
    standalone sweep for the no-rebuild case, and this audit gates it.

    Determinism (the ``docs_pii_scrub_planted`` convention): the audit
    runs against a PLANTED warehouse-lifecycle replay in a dedicated
    location — three generations of a two-table index family built from
    the corpus by the real machinery: the LIVE generation under the
    current tag + corpus fingerprint, a generation trained under the
    superseded factor-{GC_SUPERSEDED_K_FACTOR} sizing and the pre-SQ8
    tag FORMAT (``stale_params``), and the current tag over a
    superseded corpus fingerprint (``stale_corpus``). Each run first
    lets the production sweep reclaim any lineage outside the three
    current bases (exercising the removal path on real leftovers), then
    plants what is missing and reports the classification. Spark COUNTS
    THE STORED FILES while the oracle derives the same counts from the
    sizing definitions — the footprint integrity trick: equality
    certifies the planted artifacts match their definitions and the
    classifier saw exactly the generations it should.

    Scale shape: driver-side metadata walk (os.stat only) plus three
    codebook-scale parquet counts; nothing touches vector payloads.
    Reclaim itself is plan-only here (``reclaim`` column); the removing
    entry point is ``gc_stale_generations(remove=True)``, pytest-gated
    (a lazily-evaluated report cannot read files its own builder
    already deleted)."""
    import os

    p = ivf_params(spark, sf_dir)
    corpus = stored.corpus_name(sf_dir)
    fp = stored.source_fingerprint(sf_dir, "embeddings")
    assert fp != "0" * 10  # the planted stale-corpus fingerprint
    tag = _index_tag(p)
    # pre-SQ8 tag format: every component up to (not including) the
    # trailing s{SQ8_LEVELS} — component letters are unique, so rfind
    # is exact
    old_format_tag = tag[: tag.rfind("s")]
    k_old = _gc_k_old(p.n)
    gens = [
        ("live", f"{corpus}_{tag}_{fp}", p.k, True),
        ("stale_corpus", f"{corpus}_{tag}_{'0' * 10}", p.k, False),
        ("stale_params", f"{corpus}_{old_format_tag}_{fp}", k_old, False),
    ]
    # nightly sweep first: reclaim lineage outside the current three
    # bases (superseded fingerprints from earlier corpus generations)
    stored.gc_stale_generations(
        GC_AUDIT_LOCATION,
        f"{corpus}_",
        keep_bases={base for _, base, _, _ in gens},
        remove=True,
    )
    emb = _emb(spark, sf_dir)
    parts = []
    for gen, base, k_cb, is_live in gens:
        loc = f"{GC_AUDIT_LOCATION}/{base}"
        tables = {
            "codebook": _seed_rows(emb, k_cb).select("vec_id"),
            "cells": _seed_rows(emb, (k_cb + 1) // 2).select(
                F.col("vec_id").alias("cell_id")
            ),
        }
        for t, df in tables.items():
            if not os.path.exists(f"{loc}/{t}/_SUCCESS"):
                df.coalesce(1).write.mode("overwrite").parquet(f"{loc}/{t}")
        n_tables = len(
            [
                t
                for t in os.listdir(loc)
                if os.path.isdir(os.path.join(loc, t))
            ]
        )
        files = functools.reduce(
            DataFrame.unionByName,
            [
                spark.read.parquet(f"{loc}/{t}").select(F.lit(1).alias("one"))
                for t in sorted(tables)
            ],
        )
        parts.append(
            files.agg(F.count("*").cast("long").alias("n_rows")).select(
                F.lit(gen).alias("generation"),
                F.lit(n_tables).cast("long").alias("n_tables"),
                "n_rows",
                F.lit(is_live).alias("is_live"),
                F.lit(not is_live).alias("reclaim"),
            )
        )
    return functools.reduce(DataFrame.unionByName, parts).orderBy(
        "generation"
    )


def projection_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss projection audit: per label, how well the
    fixed random projection to ``vectors.PROJ_DIM`` dims preserves
    vector norms (ratio ‖Rx‖/‖x‖ — ≈1 when the reduction is safe to
    index on). This is the evaluation run before switching the ANN
    index to reduced vectors; with ``knn_recall_report`` it bounds the
    reduction's recall cost.

    Determinism: the projection matrix is a shared literal (seeded,
    pre-scaled by the dyadic 1/sqrt(k), rounded) inlined into both
    engines; each component is the seeded ascending dot fold; the norm
    ratio is one shared expression tree rounded to 6.

    Scale shape: pure map-side arithmetic over one scan (the matrix is
    a compile-time literal — nothing is broadcast or joined), then a
    |labels|-row partial-combined aggregate."""
    emb = _emb(spark, sf_dir)
    # (round 14, measured and REJECTED: replacing the fold-based
    # projection with a parsed 16×64-term unrolled chain pinned SLOWER —
    # 1.26 -> 1.89 s — the ~4k-node expression tree loses codegen and
    # interprets worse than the lambda fold; the py4j build cost is
    # amortized by Python's plan cache within the process)
    comps = V.project(F.col("v"))
    pn2 = comps[0] * comps[0]
    for y in comps[1:]:
        pn2 = pn2 + y * y  # squares: seedless ascending chain is safe
    ratio = F.round(F.sqrt(pn2) / F.sqrt(V.dot(F.col("v"), F.col("v"))), 6)
    return (
        emb.select("label", ratio.alias("r"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            ex.davg("r").alias("avg_norm_ratio"),
            F.round(F.min("r"), 6).alias("min_norm_ratio"),
            F.round(F.max("r"), 6).alias("max_norm_ratio"),
        )
    )


N_BLOCKS = 8  # tile grid; at scale pick so a block (N/N_BLOCKS vectors)
# fits an executor's memory — tiles grow as N_BLOCKS², work stays O(N²).


def cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: exact pairwise cosine ≥ threshold.

    Fully distributed blocked matrix product — nothing is collected or
    broadcast. Vectors are hashed into ``N_BLOCKS`` blocks by id; the pair
    space becomes the upper triangle of the block grid, and each vector is
    exploded to every *tile* (block pair) where its block participates —
    a-side for tiles in its block row, b-side for tiles in its block
    column. One shuffle groups each tile's rows, and ``applyInPandas``
    runs an L2-normalized float64 GEMM per tile, emitting only entries
    above threshold. Per-pair SQL scoring (even codegen'd unrolled dots)
    pays interpreter overhead per multiply; BLAS over the same pairs is
    ~50× faster and is how production similarity engines score.

    Scale shape: replication factor is N_BLOCKS+1 (each vector appears in
    one block row + one block column) and tile count N_BLOCKS(N_BLOCKS+1)/2
    bounds task granularity — both tunable so tiles fit executor memory at
    any corpus size. The exact all-pairs triangle is inherent to the
    operator's semantics; for candidate *pruning* at extreme scale compose
    with the LSH buckets of :func:`knn_lsh` and score only bucket-local
    tiles with this same kernel."""
    import numpy as np
    import pandas as pd

    nb = N_BLOCKS
    tagged = (
        _emb(spark, sf_dir)
        .select("vec_id", "v")
        .withColumn("b", F.pmod(F.col("vec_id"), F.lit(nb)))
    )
    # tile id t = i*nb + j encodes block pair (i, j), i <= j
    a_side = tagged.select(
        "vec_id",
        "v",
        F.lit("a").alias("role"),
        F.explode(
            F.sequence(F.col("b") * nb + F.col("b"), F.col("b") * nb + (nb - 1))
        ).alias("tile"),
    )
    b_side = tagged.select(
        "vec_id",
        "v",
        F.lit("b").alias("role"),
        F.explode(
            F.sequence(F.col("b"), F.col("b") * nb + F.col("b"), F.lit(nb))
        ).alias("tile"),
    )

    def score(key, pdf):
        tile = int(key[0])
        diagonal = (tile // nb) == (tile % nb)
        a = pdf[pdf["role"] == "a"]
        b = pdf[pdf["role"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        ids_a = a["vec_id"].to_numpy()
        ids_b = b["vec_id"].to_numpy()
        ma = np.vstack(a["v"].to_numpy()).astype(np.float64)
        mb = np.vstack(b["v"].to_numpy()).astype(np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        # shared rounding tree (floor(x*1e6+0.5)/1e6), mirrored in the
        # oracle SQL: np.round is half-to-even and DuckDB ROUND is
        # half-away-from-zero, which diverge at exact dyadic ties (the
        # class the sf0.1 sweep caught in multimodal_media_features)
        sims = np.floor(ma @ mb.T * 1e6 + 0.5) / 1e6
        hot = sims >= DUP_COSINE
        if diagonal:
            # same block on both sides: keep the strict upper triangle
            hot &= ids_a[:, None] < ids_b[None, :]
        ii, jj = np.nonzero(hot)
        lo = np.minimum(ids_a[ii], ids_b[jj])
        hi = np.maximum(ids_a[ii], ids_b[jj])
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": sims[ii, jj]})

    return (
        a_side.unionByName(b_side)
        .groupBy("tile")
        .applyInPandas(score, "vec_a long, vec_b long, cosine double")
    )


def semantic_keep_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup DECISION on top of the near-dup
    pair list: a vector is DROPPED when it has a near-duplicate partner
    with a lower id (the same deterministic greedy rule as the text
    family's ``dedup_keep_stats``), and the report accounts keeps/drops
    per label. Closes the semantic-dedup loop: ``embedding_cosine_dups``
    finds the pairs; this operator is the keep policy a curation run
    actually applies before training.

    Scale shape: the pair list is threshold-bounded (tiny relative to
    the corpus); its distinct drop set joins back to the corpus as a
    broadcast-or-hash semi-join marker (AQE picks; the join is keyed on
    vec_id either way), and the rollup is a |labels|-row aggregate. At
    extreme scale the pair list comes from the stored LSH-pruned
    composition the pairs operator documents."""
    pairs = cosine_dup_pairs(spark, sf_dir)
    dropped = (
        pairs.select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    flagged = emb.join(dropped, "vec_id", "left")
    return flagged.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.coalesce(F.col("_drop"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
        F.sum(F.when(F.col("_drop").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd's algorithm) exposed as a query: the
    final assignment against the stored coarse codebook (``_codebook``:
    ``KM_ITERS`` rounds of :func:`_lloyd` from the corpus-sized
    deterministic seed set ``_seed_rows`` — the K ≈ 2·√N rows with the
    smallest md5(vec_id)), so the whole IVF family (kmeans / ivf / pq /
    ivfpq) trains ONCE per corpus. Every vector is assigned to its
    nearest centroid (:func:`_nearest`: squared L2, centroid-id
    tiebreak); output is each cluster's size and inertia.

    Scale shape — the standard Spark k-means layout (what MLlib does):
    centroids are K×dim rows of model state, always broadcast; the
    assignment scores |corpus|×K rows map-side (codegen'd unrolled
    distance, built as one parsed SQL string — see
    ``vectors.sq_dist_unrolled``) and collapses them in a struct-min
    partial aggregate BEFORE the exchange, so the shuffle carries one
    row per vector.

    Determinism across engines: distances are ascending-index folds
    (bit-identical, see ``functions/vectors.sq_dist``); ties break on
    centroid id; per-dimension means accumulate in DECIMAL(25,10)
    (order-free) and divide in double; a cluster that loses all members
    drops out on both engines identically."""
    centroids = _codebook(spark, sf_dir).select(
        F.col("cell_id").alias("cid"), F.col("cv")
    )
    final = _nearest(_emb(spark, sf_dir), centroids, [], "v", "cv")
    return (
        final.select(F.col("s.cid").alias("cluster"), F.col("s.d2").alias("d2"))
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            ex.dsum("d2", 6).alias("inertia"),
            ex.davg("d2").alias("avg_d2"),
        )
    )


SPLIT_MOD = 5  # vec_id % 5 == 0 → the "incoming batch"; rest = history


def _hist_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell_id, cv): the coarse codebook trained on HISTORY ONLY
    (vec_id % SPLIT_MOD != 0) — the frozen model an incremental ingest
    assigns against. Stored like the full codebook, under its own
    table name. Its K derives from the HISTORY row count (the
    corpus the model was trained on), exactly as the oracle's scalar
    subquery counts its history CTE."""

    def build() -> DataFrame:
        hist = _emb(spark, sf_dir).where(F.col("vec_id") % SPLIT_MOD != 0)
        return _coarse_codebook(hist, IvfParams(hist.count()).k)

    return _stored_index(spark, sf_dir, "codebook_hist", "cell_id", build)


def index_update_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the nightly-batch shape the
    dedup family already has (``dedup_incremental_stats``), for the
    vector index: an INCOMING batch (deterministic split: vec_id %
    ``SPLIT_MOD`` == 0) is assigned to the cells of a codebook trained
    on HISTORY ONLY — the index is UPDATED under the frozen model,
    never retrained per batch. Output per cell: history/incoming
    occupancy and each split's mean cosine to the centroid — the drift
    report that decides when the frozen quantizer has aged enough to
    retrain (incoming cosine well below history's ⇒ the codebook no
    longer fits arriving data; a fat incoming share in few cells ⇒
    hot-cell skew after ingest).

    Scale shape: training is history × K against the broadcast model
    (once per corpus snapshot, stored); the nightly update itself is
    ONE map-side pass of the incoming batch against the broadcast
    codebook plus a |cells|-row aggregate — no retrain, no shuffle of
    history. Deterministic end-to-end (seeded initializer over history,
    cosine round-6 + cell-id tiebreak, DECIMAL means), so DuckDB
    replays the full report."""
    emb = _emb(spark, sf_dir)
    seeds = _hist_codebook(spark, sf_dir)
    scored = emb.join(F.broadcast(seeds)).select(
        "vec_id",
        "cell_id",
        F.round(V.cosine_unrolled("v", "cv"), 6).alias("c"),
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(F.max(F.struct("c", (-F.col("cell_id")).alias("nid"))).alias("s"))
        .select(
            "vec_id",
            (-F.col("s.nid")).alias("cell_id"),
            F.col("s.c").alias("c"),
            (F.col("vec_id") % SPLIT_MOD == 0).alias("incoming"),
        )
    )
    return (
        assigned.groupBy("cell_id")
        .agg(
            F.sum(F.when(~F.col("incoming"), 1).otherwise(0))
            .cast("long")
            .alias("n_history"),
            F.sum(F.when(F.col("incoming"), 1).otherwise(0))
            .cast("long")
            .alias("n_incoming"),
            F.round(
                F.sum(F.when(F.col("incoming"), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("incoming_share"),
            ex.davg(F.when(~F.col("incoming"), F.col("c"))).alias(
                "avg_cos_history"
            ),
            ex.davg(F.when(F.col("incoming"), F.col("c"))).alias(
                "avg_cos_incoming"
            ),
        )
    )


# Retrain-decision thresholds (round 9 — closes the index-maintenance
# lifecycle: knn_index_update_stats REPORTS drift; this query DECIDES).
# A cell votes 'retrain' when its incoming batch fits the frozen
# centroid measurably worse than history did (cosine drop ≥
# DRIFT_RETRAIN) on enough incoming evidence (≥ MIN_INCOMING rows —
# small cells would otherwise flap on noise); a cell votes 'hot' when
# incoming DOMINATES it (share ≥ SHARE_HOT — post-ingest skew: the
# cell's postings list grows unboundedly and wants a split/retrain);
# 'keep' otherwise, retrain taking precedence over hot.
DRIFT_RETRAIN = 0.05
MIN_INCOMING = 5
SHARE_HOT = 0.5


def index_retrain_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision a nightly index-maintenance job acts on: fold the
    per-cell drift report (:func:`index_update_stats`) through the
    threshold rule into one row per verdict class — how many cells
    (and how much of the incoming batch) demand a retrain, are running
    hot, or can keep the frozen quantizer. The corpus-sized codebook
    (``ivf_params``) makes the retrain actionable: a retrain re-derives
    K from the grown corpus and re-tags the stored index
    (``_index_tag``), so acting on this verdict is exactly one
    ``build_indexes`` call.

    Scale shape: input is the |cells|-row report (already aggregated —
    the corpus was touched once by the update pass); everything here is
    arithmetic over ≤ K rows plus a ≤ 3-row rollup. Deterministic:
    drift is a difference of round-6 decimal means, thresholds are
    shared literals, and the CASE precedence is identical in the DuckDB
    replay."""
    per_cell = index_update_stats(spark, sf_dir)
    drift = F.round(
        F.col("avg_cos_history") - F.col("avg_cos_incoming"), 6
    )
    verdict = (
        F.when(
            (F.col("n_incoming") >= MIN_INCOMING)
            & (drift >= DRIFT_RETRAIN),
            F.lit("retrain"),
        )
        .when(
            (F.col("n_incoming") >= MIN_INCOMING)
            & (F.col("incoming_share") >= SHARE_HOT),
            F.lit("hot"),
        )
        .otherwise(F.lit("keep"))
    )
    return (
        per_cell.select(
            verdict.alias("verdict"),
            "n_history",
            "n_incoming",
            drift.alias("drift"),
        )
        .groupBy("verdict")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n_history").cast("long").alias("n_history"),
            F.sum("n_incoming").cast("long").alias("n_incoming"),
            ex.davg("drift").alias("avg_drift"),
            F.round(F.max("drift"), 6).alias("max_drift"),
        )
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label per-dimension centroid (posexplode → groupBy(label, dim)).
    640 output rows at 10 labels × 64 dims; the aggregation is partial
    map-side like any other groupBy."""
    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", F.posexplode("v").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(ex.davg("x").alias("centroid"), F.count("*").alias("n_vectors"))
    )


def norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm statistics (scan-only, no join)."""
    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", V.norm(F.col("v")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            ex.davg("nrm").alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


def _knn_sql(candidate_filter: str) -> str:
    sig = V.lsh_signature_sql("v", V.HYPERPLANES)
    return f"""
        WITH e AS (
            SELECT vec_id, label, {V.as_double_sql("embedding")} AS v,
                   {sig} AS sig
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, v AS qv, sig AS qsig FROM e
            WHERE vec_id < {N_QUERIES}
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   ROUND({V.cosine_sql("q.qv", "e.v")}, 6) AS cosine
            FROM e CROSS JOIN q
            WHERE e.vec_id != q.query_id AND ({candidate_filter})
        ), ranked AS (
            SELECT query_id, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS INTEGER) AS rank
            FROM scored
        )
        SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {TOP_K}
    """


# The SQL mirror of ``IvfParams``: one row (n, k, nprobe, maxprobe)
# derived from COUNT(*) of the ``e`` CTE it follows — the oracle sizes
# the index to the same corpus the query ran on, so the committed SQL
# strings stay static while the operating point tracks corpus growth.
# All integer arithmetic (// is floor-div in DuckDB and Python alike);
# the one float step, CEIL(2.0·SQRT(n)), is IEEE-identical across
# engines.
_PARAMS_CTE = f"""
    , pk AS (
        SELECT n, k,
               (k + 2) // 3 AS nprobe, (k + 1) // 2 AS maxprobe
        FROM (
            SELECT n,
                   LEAST(GREATEST(CAST(CEIL({IVF_K_FACTOR} * SQRT(n))
                                       AS BIGINT), {IVF_K_MIN}),
                         {IVF_K_MAX}) AS k
            FROM (SELECT COUNT(*) AS n FROM e)
        )
    )"""


def _km_assign_sql(cent: str, out: str) -> str:
    """One Lloyd assignment round: nearest centroid by squared L2 with a
    centroid-id tiebreak (same fold order as Spark's sq_dist)."""
    return f"""
    , {out} AS (
        SELECT vec_id, v, cid, d2 FROM (
            SELECT e.vec_id, e.v, c.cid,
                   {V.sq_dist_sql("e.v", "c.cv")} AS d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id ORDER BY d2, c.cid) AS r
            FROM e CROSS JOIN {cent} c
        ) WHERE r = 1
    )"""


def _km_update_sql(assigned: str, out: str) -> str:
    """Centroid update: per-dimension DECIMAL-exact mean, repacked into a
    dim-ordered list."""
    return f"""
    , {out} AS (
        SELECT cid, list(m ORDER BY dim) AS cv FROM (
            SELECT cid, d.d AS dim,
                   CAST(SUM(CAST(v[d.d + 1] AS {ex.SQL_DEC})) AS DOUBLE)
                       / COUNT(*) AS m
            FROM {assigned} CROSS JOIN
                 (SELECT UNNEST(range(0, {V.DIM})) AS d) AS d
            GROUP BY cid, d.d
        ) GROUP BY cid
    )"""


# Unrolled KM_ITERS=2 training rounds ending in the trained codebook
# (`seeds`): the exact SQL mirror of _lloyd / _codebook,
# prefixed by the derived-parameter row (``pk``). Every IVF-family
# oracle shares this prefix so the index structure is bit-identical
# across engines.
_TRAIN_CTES = (
    _PARAMS_CTE
    + """
    , c0 AS (
        SELECT cid, cv FROM (
            SELECT vec_id AS cid, v AS cv,
                   ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) AS sr
            FROM e
        ), pk WHERE sr <= pk.k
    )"""
    + _km_assign_sql("c0", "ta0")
    + _km_update_sql("ta0", "tc1")
    + _km_assign_sql("tc1", "ta1")
    + _km_update_sql("ta1", "tc2")
    + """
    , seeds AS (SELECT cid AS cell_id, cv FROM tc2)"""
)

_IVF_SQL = f"""
    WITH e AS (
        SELECT vec_id, {V.as_double_sql("embedding")} AS v FROM embeddings
    ){_TRAIN_CTES}, scored_cells AS (
        SELECT e.vec_id, e.v, s.cell_id,
               ROUND({V.cosine_sql("e.v", "s.cv")}, 6) AS cell_cos
        FROM e CROSS JOIN seeds s
    ), ranked_cells AS (
        SELECT vec_id, v, cell_id, cell_cos,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id
               ) AS r
        FROM scored_cells
    ), assign AS (
        SELECT vec_id, v, cell_id FROM ranked_cells WHERE r = 1
    ), probes AS (
        SELECT vec_id AS query_id, cell_id FROM ranked_cells
        WHERE vec_id < {N_QUERIES} AND r <= (SELECT nprobe FROM pk)
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT p.query_id, a.vec_id,
               ROUND({V.cosine_sql("q.qv", "a.v")}, 6) AS cosine
        FROM probes p
        JOIN assign a ON a.cell_id = p.cell_id AND a.vec_id != p.query_id
        JOIN q ON q.query_id = p.query_id
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {TOP_K}
"""

_IVF_FILTERED_SQL = f"""
    WITH e AS (
        SELECT vec_id, label, {V.as_double_sql("embedding")} AS v FROM embeddings
    ){_TRAIN_CTES}, scored_cells AS (
        SELECT e.vec_id, e.label, e.v, s.cell_id,
               ROUND({V.cosine_sql("e.v", "s.cv")}, 6) AS cell_cos
        FROM e CROSS JOIN seeds s
    ), ranked_cells AS (
        SELECT vec_id, label, v, cell_id, cell_cos,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id
               ) AS r
        FROM scored_cells
    ), assign AS (
        SELECT vec_id, v, cell_id FROM ranked_cells
        WHERE r = 1 AND label % {FILTER_LABEL_MOD} = 0
    ), probes AS (
        SELECT vec_id AS query_id, cell_id FROM ranked_cells
        WHERE vec_id < {N_QUERIES} AND r <= (SELECT maxprobe FROM pk)
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT p.query_id, a.vec_id,
               ROUND({V.cosine_sql("q.qv", "a.v")}, 6) AS cosine
        FROM probes p
        JOIN assign a ON a.cell_id = p.cell_id AND a.vec_id != p.query_id
        JOIN q ON q.query_id = p.query_id
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {TOP_K}
"""

ORACLE: dict[str, str] = {
    "knn_bruteforce": _knn_sql("TRUE"),
    # multi-probe: any bucket within Hamming radius LSH_RADIUS of the
    # query signature (the 37-XOR-mask explode on the Spark side is
    # exactly this predicate, mask-enumerated)
    "knn_lsh": _knn_sql(f"bit_count(xor(e.sig, q.qsig)) <= {LSH_RADIUS}"),
    # multi-TABLE multi-probe: any of the L independent tables buckets
    # the pair within the radius (the OR is the amplification; the
    # cross-join formulation dedups pairs naturally, mirroring the
    # Spark side's distinct before ranking)
    "knn_lsh_multitable": _knn_sql(
        " OR ".join(
            f"bit_count(xor({V.lsh_signature_sql('e.v', V.MT_HYPERPLANES[t])}, "
            f"{V.lsh_signature_sql('q.qv', V.MT_HYPERPLANES[t])})) <= {LSH_MT_RADIUS}"
            for t in range(V.LSH_TABLES)
        )
    ),
    "knn_ivf": _IVF_SQL,
    "knn_ivf_filtered": _IVF_FILTERED_SQL,
    "embedding_cosine_dups": None,  # filled below
    "embedding_label_centroids": f"""
        WITH e AS (SELECT label, {V.as_double_sql("embedding")} AS v FROM embeddings),
        x AS (
            SELECT label, d.d AS dim, v[d.d + 1] AS x
            FROM e CROSS JOIN (SELECT UNNEST(range(0, {V.DIM})) AS d) AS d
        )
        SELECT label, CAST(dim AS INTEGER) AS dim,
               {ex.davg_sql("x")} AS centroid, COUNT(*) AS n_vectors
        FROM x GROUP BY label, dim
    """,
    "embedding_norm_stats": f"""
        WITH e AS (
            SELECT label, {V.norm_sql(V.as_double_sql("embedding"))} AS nrm
            FROM embeddings
        )
        SELECT label, COUNT(*) AS n_vectors,
               {ex.davg_sql("nrm")} AS avg_norm,
               ROUND(MIN(nrm), 6) AS min_norm,
               ROUND(MAX(nrm), 6) AS max_norm
        FROM e GROUP BY label
    """,
}


# L2-normalized double image of the embedding (unit-safe for PQ: for
# unit vectors ADC's squared-L2 ordering equals the cosine ordering)
_VN = f"list_transform(v, x -> x / {V.norm_sql('v')})"


def _dup_sql() -> str:
    # mirror the Spark plan exactly: L2-normalize first, then plain dot
    return f"""
        WITH e AS (
            SELECT vec_id, {V.as_double_sql("embedding")} AS v FROM embeddings
        ), n AS (
            SELECT vec_id,
                   {_VN} AS vn
            FROM e
        )
        SELECT * FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   -- shared rounding tree with the Spark-side GEMM
                   -- (np.floor(x*1e6+0.5)/1e6); ROUND's half-away and
                   -- numpy's half-even diverge at exact dyadic ties
                   FLOOR(list_dot_product(a.vn, b.vn) * 1000000 + 0.5)
                       / 1000000 AS cosine
            FROM n a JOIN n b ON a.vec_id < b.vec_id
        ) WHERE cosine >= {DUP_COSINE}
    """


ORACLE["embedding_cosine_dups"] = _dup_sql()

ORACLE["embedding_semantic_keep_stats"] = f"""
    WITH dropped AS (
        SELECT DISTINCT vec_b FROM ({_dup_sql()})
    )
    SELECT e.label, COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN d.vec_b IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN d.vec_b IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_b
    GROUP BY e.label
"""


ORACLE["embedding_kmeans"] = (
    f"""
    WITH e AS (
        SELECT vec_id, {V.as_double_sql("embedding")} AS v FROM embeddings
    ){_TRAIN_CTES}"""
    + _km_assign_sql("tc2", "af")
    + f"""
    SELECT cid AS cluster, COUNT(*) AS n_vectors,
           {ex.dsum_sql("d2", 6)} AS inertia,
           {ex.davg_sql("d2")} AS avg_d2
    FROM af GROUP BY cid
"""
)


def _pq_assign_sql(cent: str, out: str) -> str:
    """One per-subspace Lloyd assignment round: nearest sub-centroid by
    squared L2 with a (d2, cid) tiebreak — ``m`` rides along as a plain
    grouping column, so one CTE trains all PQ_M subspaces."""
    return f"""
    , {out} AS (
        SELECT vec_id, m, sv, cid FROM (
            SELECT s.vec_id, s.m, s.sv, c.cid,
                   {V.sq_dist_sql("s.sv", "c.sc", PQ_SUBDIM)} AS d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.m ORDER BY d2, c.cid) AS r
            FROM subs s JOIN {cent} c ON c.m = s.m
        ) WHERE r = 1
    )"""


def _pq_update_sql(assigned: str, out: str) -> str:
    """Per-subspace sub-centroid update: DECIMAL-exact per-dimension
    mean, repacked into a dim-ordered list (mirror of the Spark
    trainer's posexplode → mean → array_sort collect)."""
    return f"""
    , {out} AS (
        SELECT m, cid, list(mu ORDER BY dim) AS sc FROM (
            SELECT m, cid, d.d AS dim,
                   CAST(SUM(CAST(sv[d.d + 1] AS {ex.SQL_DEC})) AS DOUBLE)
                       / COUNT(*) AS mu
            FROM {assigned} CROSS JOIN
                 (SELECT UNNEST(range(0, {PQ_SUBDIM})) AS d) AS d
            GROUP BY m, cid, d.d
        ) GROUP BY m, cid
    )"""


# Shared PQ CTE block (expects an ``e(vec_id, v, ...)`` CTE): normalized
# subvectors → KM_ITERS=2 unrolled per-subspace training rounds → the
# trained sub-codebooks → encode distances / codes / query ADC table.
# The exact SQL mirror of _subvectors / _pq_subcodebook / _pq_codes /
# _pq_query_dists. A function (not a module constant) so the PQ
# resolution sweep can rebuild it under patched PQ_M / PQ_SUBK.
def _pq_ctes() -> str:
    return (
        f"""
    , subs AS (
        SELECT vec_id, m.m AS m,
               ({_VN})[m.m * {PQ_SUBDIM} + 1 : (m.m + 1) * {PQ_SUBDIM}]
                   AS sv
        FROM e CROSS JOIN (SELECT UNNEST(range(0, {PQ_M})) AS m) AS m
    ), pqseed AS (
        SELECT vec_id FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) AS sr
            FROM e
        ) WHERE sr <= {PQ_SUBK}
    ), sc0 AS (
        SELECT s.m, s.vec_id AS cid, s.sv AS sc
        FROM subs s JOIN pqseed p ON p.vec_id = s.vec_id
    )"""
        + _pq_assign_sql("sc0", "sa0")
        + _pq_update_sql("sa0", "sc1")
        + _pq_assign_sql("sc1", "sa1")
        + _pq_update_sql("sa1", "sc2")
        + f"""
    , sseeds AS (SELECT m, cid AS cell_id, sc FROM sc2)
    , dists AS (
        SELECT s.vec_id, s.m, ss.cell_id,
               {V.sq_dist_sql("s.sv", "ss.sc", PQ_SUBDIM)} AS d2
        FROM subs s JOIN sseeds ss ON s.m = ss.m
    ), codes AS (
        SELECT vec_id, m, cell_id AS code FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id, m ORDER BY d2, cell_id) AS rk2
            FROM dists
        ) WHERE rk2 = 1
    ), qdists AS (
        SELECT vec_id AS query_id, m, cell_id, d2 AS qd2
        FROM dists WHERE vec_id < {N_QUERIES}
    )"""
    )


ORACLE["knn_pq"] = f"""
    WITH e AS (
        SELECT vec_id, {V.as_double_sql("embedding")} AS v FROM embeddings
    ){_pq_ctes()}, scored AS (
        SELECT q.query_id, c.vec_id,
               SUM(CAST(q.qd2 AS {ex.SQL_DEC})) AS adec
        FROM codes c
        JOIN qdists q ON q.m = c.m AND q.cell_id = c.code
        WHERE c.vec_id != q.query_id
        GROUP BY q.query_id, c.vec_id
    ), ranked AS (
        SELECT query_id, vec_id, adec,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY adec, vec_id
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, rank, vec_id,
           ROUND(CAST(adec AS DOUBLE), 6) AS approx_d2
    FROM ranked WHERE rank <= {TOP_K}
"""


def _ivfpq_sql(rerank: bool) -> str:
    """IVF-PQ oracle, optionally with the exact-rerank third stage (the
    SQL mirror of :func:`knn_ivfpq` / :func:`knn_ivfpq_rerank`)."""
    prefix = f"""
    WITH e AS (
        SELECT vec_id, {V.as_double_sql("embedding")} AS v FROM embeddings
    ){_TRAIN_CTES}, cr AS (
        SELECT e.vec_id, s.cell_id,
               ROUND({V.cosine_sql("e.v", "s.cv")}, 6) AS cell_cos
        FROM e CROSS JOIN seeds s
    ), rc AS (
        SELECT vec_id, cell_id, r FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id) AS r
            FROM cr
        ) WHERE r <= (SELECT nprobe FROM pk)
    ), ca AS (
        SELECT vec_id, cell_id AS vcell FROM rc WHERE r = 1
    ), probes AS (
        SELECT vec_id AS query_id, cell_id FROM rc
        WHERE vec_id < {N_QUERIES}
    ){_pq_ctes()}, cand AS (
        SELECT p.query_id, ca.vec_id
        FROM ca JOIN probes p ON ca.vcell = p.cell_id
        WHERE ca.vec_id != p.query_id
    ), scored AS (
        SELECT c.query_id, c.vec_id,
               SUM(CAST(q.qd2 AS {ex.SQL_DEC})) AS adec
        FROM cand c
        JOIN codes k ON k.vec_id = c.vec_id
        JOIN qdists q ON q.query_id = c.query_id
             AND q.m = k.m AND q.cell_id = k.code
        GROUP BY 1, 2
    )"""
    if not rerank:
        return (
            prefix
            + f""", ranked AS (
        SELECT query_id, vec_id, adec,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY adec, vec_id
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, rank, vec_id,
           ROUND(CAST(adec AS DOUBLE), 6) AS approx_d2
    FROM ranked WHERE rank <= {TOP_K}
"""
        )
    return (
        prefix
        + f""", shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY adec, vec_id
                   ) AS rr
            FROM scored
        ) WHERE rr <= {RERANK_R}
    ), qv AS (
        SELECT vec_id AS query_id, v AS qv FROM e
        WHERE vec_id < {N_QUERIES}
    ), exact AS (
        SELECT s.query_id, s.vec_id,
               ROUND({V.cosine_sql("q.qv", "e.v")}, 6) AS cosine
        FROM shortlist s
        JOIN e ON e.vec_id = s.vec_id
        JOIN qv q ON q.query_id = s.query_id
    ), rranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id
               ) AS INTEGER) AS rank
        FROM exact
    )
    SELECT query_id, rank, vec_id, cosine
    FROM rranked WHERE rank <= {TOP_K}
"""
    )


ORACLE["knn_ivfpq"] = _ivfpq_sql(rerank=False)
ORACLE["knn_ivfpq_rerank"] = _ivfpq_sql(rerank=True)

# SQ8 mirror: re-derives the normalized image, the corpus-derived scale
# (one MAX scalar subquery — the sq8 analog of _PARAMS_CTE's COUNT), the
# integer codes, and the symmetric integer dot. Every ranked comparison
# is BIGINT, so the replay is bit-deterministic by construction.
ORACLE["knn_sq8"] = f"""
    WITH e AS (SELECT vec_id, {V.as_double_sql("embedding")} AS v FROM embeddings),
    u AS (SELECT vec_id, {_VN} AS vn FROM e),
    s AS (
        SELECT {SQ8_LEVELS}.0
               / MAX(list_aggregate(list_transform(vn, x -> ABS(x)), 'max'))
                   AS sc
        FROM u
    ),
    c AS (
        SELECT vec_id,
               list_transform(vn, x -> {_SQ8_CODE_SQL}) AS qv
        FROM u CROSS JOIN s
    ),
    q AS (SELECT vec_id AS query_id, qv AS qq FROM c
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, c.vec_id,
               CAST(list_dot_product(q.qq, c.qv) AS BIGINT) AS qdot
        FROM c CROSS JOIN q WHERE c.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, qdot,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY qdot DESC, vec_id
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, rank, vec_id, qdot FROM ranked WHERE rank <= {TOP_K}
"""

# IVF × SQ8 composition mirror: the IVF training/assignment CTEs
# (identical to _IVF_SQL) prune to the probed cells; candidates score
# by the same integer code dot as the standalone sq8 oracle. The CTE
# chain through ``scored`` is shared with the rerank variant.
_IVF_SQ8_SCORED_CTES = f"""
    WITH e AS (
        SELECT vec_id, {V.as_double_sql("embedding")} AS v FROM embeddings
    ){_TRAIN_CTES}, u AS (
        SELECT vec_id, {_VN} AS vn FROM e
    ), s8 AS (
        SELECT {SQ8_LEVELS}.0
               / MAX(list_aggregate(list_transform(vn, x -> ABS(x)), 'max'))
                   AS sc
        FROM u
    ), c8 AS (
        SELECT vec_id,
               list_transform(vn, x -> {_SQ8_CODE_SQL}) AS qv
        FROM u CROSS JOIN s8
    ), scored_cells AS (
        SELECT e.vec_id, s.cell_id,
               ROUND({V.cosine_sql("e.v", "s.cv")}, 6) AS cell_cos
        FROM e CROSS JOIN seeds s
    ), ranked_cells AS (
        SELECT vec_id, cell_id, cell_cos,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id
               ) AS r
        FROM scored_cells
    ), assign AS (
        SELECT vec_id, cell_id FROM ranked_cells WHERE r = 1
    ), probes AS (
        SELECT vec_id AS query_id, cell_id FROM ranked_cells
        WHERE vec_id < {N_QUERIES} AND r <= (SELECT nprobe FROM pk)
    ), q8 AS (
        SELECT vec_id AS query_id, qv AS qq FROM c8
        WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT p.query_id, a.vec_id,
               CAST(list_dot_product(q8.qq, c8.qv) AS BIGINT) AS qdot
        FROM probes p
        JOIN assign a ON a.cell_id = p.cell_id AND a.vec_id != p.query_id
        JOIN c8 ON c8.vec_id = a.vec_id
        JOIN q8 ON q8.query_id = p.query_id
    )"""

ORACLE["knn_ivf_sq8"] = f"""{_IVF_SQ8_SCORED_CTES}, ranked AS (
        SELECT query_id, vec_id, qdot,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY qdot DESC, vec_id
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, rank, vec_id, qdot FROM ranked WHERE rank <= {TOP_K}
"""

# Rerank mirror: the same scored relation shortlists by integer dot
# (rr <= SQ8_RERANK_R), then the ORIGINAL float vectors re-score the
# shortlist exactly — the identical two-window shape as the Spark side.
ORACLE["knn_sq8_rerank"] = f"""{_IVF_SQ8_SCORED_CTES}, sl AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY qdot DESC, vec_id
               ) AS rr
        FROM scored
    ), rx AS (
        SELECT s.query_id, s.vec_id,
               ROUND({V.cosine_sql("qe.v", "e.v")}, 6) AS cosine
        FROM sl s
        JOIN e ON e.vec_id = s.vec_id
        JOIN e qe ON qe.vec_id = s.query_id
        WHERE s.rr <= {SQ8_RERANK_R}
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id
               ) AS INTEGER) AS rank
        FROM rx
    )
    SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {TOP_K}
"""

# Recall oracles: each method's full oracle SQL nests as a CTE (DuckDB
# allows WITH inside a CTE body), so the ground truth and every
# approximate ranking are the exact same queries the per-method gates
# verify; the report then replays the same set-intersection counts.
# Since round 11 the REGISTERED reports are the per-FAMILY slices
# (RECALL_FAMILIES) — the union of their rows is the full per-method
# report exactly, and the bench stops paying one monolithic query that
# grew with every new ANN method.
_REPORT_ORACLE_KEYS = {
    "lsh": "knn_lsh",
    "lsh_mt": "knn_lsh_multitable",
    "ivf": "knn_ivf",
    "pq": "knn_pq",
    "ivfpq": "knn_ivfpq",
    "ivfpq_rr": "knn_ivfpq_rerank",
    "sq8": "knn_sq8",
    "ivf_sq8": "knn_ivf_sq8",
    "sq8_rr": "knn_sq8_rerank",
}


def _recall_report_sql(methods: tuple[str, ...]) -> str:
    ctes = ",\n    ".join(
        f"m_{x} AS ({ORACLE[_REPORT_ORACLE_KEYS[x]]})" for x in methods
    )
    union = "\n        UNION ALL ".join(
        f"SELECT '{x}' AS method, query_id, vec_id FROM m_{x}"
        for x in methods
    )
    vals = ", ".join(f"('{x}')" for x in methods)
    return f"""
    WITH bf AS ({ORACLE["knn_bruteforce"]}),
    {ctes},
    m AS (
        {union}
    ), truth AS (
        SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY query_id
    ), hits AS (
        SELECT m.method, m.query_id, COUNT(*) AS n_hits
        FROM m JOIN bf ON bf.query_id = m.query_id AND bf.vec_id = m.vec_id
        GROUP BY 1, 2
    ), per AS (
        SELECT mm.method, t.query_id,
               COALESCE(h.n_hits, 0) AS n_hits, t.n_true
        FROM (VALUES {vals}) AS mm(method)
        CROSS JOIN truth t
        LEFT JOIN hits h ON h.method = mm.method AND h.query_id = t.query_id
    )
    SELECT method, COUNT(*) AS n_queries,
           CAST(SUM(n_hits) AS BIGINT) AS n_hits,
           CAST(SUM(n_true) AS BIGINT) AS n_true,
           ROUND(SUM(n_hits) / CAST(SUM(n_true) AS DOUBLE), 6)
               AS recall_at_k
    FROM per GROUP BY method
"""


for _fam, _fam_methods in RECALL_FAMILIES.items():
    ORACLE[f"knn_recall_report_{_fam}"] = _recall_report_sql(_fam_methods)

def _frontier_sql(method: str, scored: str, levels: str, order: str) -> str:
    """CTE chain for one method's frontier rows: level the scored
    candidates (pr ≤ probe), rank within (probe, query), count hits vs
    the ground truth and scanned candidate rows — the SQL mirror of
    ``_recall_frontier_rows``."""
    return f"""
    , {method}_lv AS (
        SELECT l.probe, s.* FROM {scored} s
        JOIN {levels} l ON s.pr <= l.probe
    ), {method}_cr AS (
        SELECT probe, COUNT(*) AS cand_rows FROM {method}_lv GROUP BY probe
    ), {method}_tk AS (
        SELECT probe, query_id, vec_id FROM (
            SELECT probe, query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY probe, query_id
                       ORDER BY {order}, vec_id
                   ) AS rk
            FROM {method}_lv
        ) WHERE rk <= {TOP_K}
    ), {method}_h AS (
        SELECT t.probe, t.query_id, COUNT(*) AS n_hits
        FROM {method}_tk t
        JOIN bf ON bf.query_id = t.query_id AND bf.vec_id = t.vec_id
        GROUP BY 1, 2
    ), {method}_p AS (
        SELECT l.probe, t.query_id, t.n_true, COALESCE(h.n_hits, 0) AS n_hits
        FROM {levels} l CROSS JOIN truth t
        LEFT JOIN {method}_h h
             ON h.probe = l.probe AND h.query_id = t.query_id
    ), {method}_out AS (
        SELECT '{method}' AS method, p.probe,
               COUNT(*) AS n_queries,
               CAST(SUM(p.n_hits) AS BIGINT) AS n_hits,
               CAST(SUM(p.n_true) AS BIGINT) AS n_true,
               ROUND(SUM(p.n_hits) / CAST(SUM(p.n_true) AS DOUBLE), 6)
                   AS recall_at_k,
               CAST(COALESCE(MIN(c.cand_rows), 0) AS BIGINT) AS cand_rows
        FROM {method}_p p LEFT JOIN {method}_cr c ON c.probe = p.probe
        GROUP BY 1, 2
    )"""


def _tradeoff_sql() -> str:
    """The full recall-vs-cost frontier replayed in DuckDB: every index
    structure (trained codebook, postings ranks, PQ codes, LSH
    signatures and probe masks) is recomputed from the same
    deterministic definitions, so the Spark result is verified
    value-for-value including the scanned-row counts."""
    rd_vals = ", ".join(f"({x})" for x in TRADEOFF_RADII)
    rr_vals = ", ".join(f"({x})" for x in SQ8_RERANK_LEVELS)
    mask_vals = ", ".join(
        f"({m}, {d})" for m, d in _lsh_probe_masks(max(TRADEOFF_RADII))
    )
    # multi-table mirror: per-table signature literals, radius-bounded
    # masks, and the two level axes (radius reuses rd; tables get tl)
    emt_parts = "\n        UNION ALL ".join(
        f"SELECT {t} AS tbl, vec_id, v, "
        f"{V.lsh_signature_sql('v', V.MT_HYPERPLANES[t])} AS sig FROM e"
        for t in range(V.LSH_TABLES)
    )
    mt_mask_vals = ", ".join(
        f"({m}, {d})" for m, d in _lsh_probe_masks(LSH_MT_RADIUS)
    )
    tl_vals = ", ".join(f"({x})" for x in range(1, V.LSH_TABLES + 1))
    v = V.as_double_sql("embedding")
    return f"""
    WITH e AS (
        SELECT vec_id, {v} AS v, {V.lsh_signature_sql(v, V.HYPERPLANES)} AS sig
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, v AS qv, sig AS qsig FROM e
        WHERE vec_id < {N_QUERIES}
    ), bf_sc AS (
        SELECT q.query_id, e.vec_id, ROUND({V.cosine_sql("q.qv", "e.v")}, 6) AS cosine
        FROM e CROSS JOIN q WHERE e.vec_id != q.query_id
    ), bf AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS rk
            FROM bf_sc
        ) WHERE rk <= {TOP_K}
    ), truth AS (
        SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY query_id
    ){_TRAIN_CTES}, cr AS (
        SELECT e.vec_id, s.cell_id,
               ROUND({V.cosine_sql("e.v", "s.cv")}, 6) AS cell_cos
        FROM e CROSS JOIN seeds s
    ), rc AS (
        SELECT vec_id, cell_id, r FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY cell_cos DESC, cell_id) AS r
            FROM cr
        ) WHERE r <= (SELECT maxprobe FROM pk)
    ), ca AS (
        SELECT rc.vec_id, rc.cell_id AS vcell, e.v
        FROM rc JOIN e ON e.vec_id = rc.vec_id WHERE rc.r = 1
    ), iprobes AS (
        SELECT vec_id AS query_id, cell_id, r AS pr FROM rc
        WHERE vec_id < {N_QUERIES}
    ), icand AS (
        SELECT p.query_id, a.vec_id, p.pr, a.v
        FROM iprobes p
        JOIN ca a ON a.vcell = p.cell_id AND a.vec_id != p.query_id
    ), ivf_scored AS (
        SELECT c.query_id, c.vec_id, c.pr,
               ROUND({V.cosine_sql("q.qv", "c.v")}, 6) AS cos
        FROM icand c JOIN q ON q.query_id = c.query_id
    ){_pq_ctes()}, pq_scored AS (
        SELECT c.query_id, c.vec_id, c.pr,
               SUM(CAST(qd.qd2 AS {ex.SQL_DEC})) AS adec
        FROM icand c
        JOIN codes k ON k.vec_id = c.vec_id
        JOIN qdists qd ON qd.query_id = c.query_id
             AND qd.m = k.m AND qd.cell_id = k.code
        GROUP BY 1, 2, 3
    ), masks AS (
        SELECT * FROM (VALUES {mask_vals}) AS m(mask, d)
    ), psigs AS (
        SELECT q.query_id, q.qv, xor(q.qsig, m.mask) AS psig, m.d AS pr
        FROM q CROSS JOIN masks m
    ), lsh_scored AS (
        SELECT p.query_id, e.vec_id, p.pr,
               ROUND({V.cosine_sql("p.qv", "e.v")}, 6) AS cos
        FROM e JOIN psigs p
             ON e.sig = p.psig AND e.vec_id != p.query_id
    ), emt AS (
        {emt_parts}
    ), mtmasks AS (
        SELECT * FROM (VALUES {mt_mask_vals}) AS m(mask, d)
    ), mtprobes AS (
        SELECT s.tbl AS ptbl, s.vec_id AS query_id,
               xor(s.sig, m.mask) AS psig, m.d AS d
        FROM emt s CROSS JOIN mtmasks m WHERE s.vec_id < {N_QUERIES}
    ), mtpairs AS (
        SELECT p.query_id, c.vec_id,
               MIN(p.d) AS pr_r, MIN(c.tbl) + 1 AS pr_t
        FROM emt c JOIN mtprobes p
          ON c.tbl = p.ptbl AND c.sig = p.psig
         AND c.vec_id != p.query_id
        GROUP BY 1, 2
    ), mt_scored AS (
        SELECT mp.query_id, mp.vec_id, mp.pr_r, mp.pr_t,
               ROUND({V.cosine_sql("q.qv", "e2.v")}, 6) AS cos
        FROM mtpairs mp
        JOIN q ON q.query_id = mp.query_id
        JOIN e e2 ON e2.vec_id = mp.vec_id
    ), mt_scored_r AS (
        SELECT query_id, vec_id, pr_r AS pr, cos FROM mt_scored
    ), mt_scored_t AS (
        SELECT query_id, vec_id, pr_t AS pr, cos FROM mt_scored
    ), u8 AS (
        SELECT vec_id, {_VN} AS vn FROM e
    ), s8 AS (
        SELECT {SQ8_LEVELS}.0
               / MAX(list_aggregate(list_transform(vn, x -> ABS(x)), 'max'))
                   AS sc
        FROM u8
    ), c8 AS (
        SELECT vec_id, list_transform(vn, x -> {_SQ8_CODE_SQL}) AS qv
        FROM u8 CROSS JOIN s8
    ), q8 AS (
        SELECT vec_id AS query_id, qv AS qq FROM c8
        WHERE vec_id < {N_QUERIES}
    ), sq8dots AS (
        SELECT c.query_id, c.vec_id,
               CAST(list_dot_product(q8.qq, c8.qv) AS BIGINT) AS qdot
        FROM icand c
        JOIN c8 ON c8.vec_id = c.vec_id
        JOIN q8 ON q8.query_id = c.query_id
        WHERE c.pr <= (SELECT nprobe FROM pk)
    ), sq8rk AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY qdot DESC, vec_id
               ) AS pr
        FROM sq8dots
    ), sq8rr_scored AS (
        SELECT r.query_id, r.vec_id, r.pr,
               ROUND({V.cosine_sql("q.qv", "e2.v")}, 6) AS cos
        FROM sq8rk r
        JOIN q ON q.query_id = r.query_id
        JOIN e e2 ON e2.vec_id = r.vec_id
    ), np AS (
        SELECT DISTINCT CAST(probe AS INTEGER) AS probe FROM (
            SELECT UNNEST([(k + 15) // 16, (k + 7) // 8, (k + 3) // 4,
                           (k + 2) // 3, (k + 1) // 2]) AS probe FROM pk
        )
    ), rd AS (SELECT * FROM (VALUES {rd_vals}) AS l(probe)
    ), tl AS (SELECT * FROM (VALUES {tl_vals}) AS l(probe)
    ), rrl AS (SELECT * FROM (VALUES {rr_vals}) AS l(probe)
    ){_frontier_sql("lsh", "lsh_scored", "rd", "cos DESC")}
    {_frontier_sql("ivf", "ivf_scored", "np", "cos DESC")}
    {_frontier_sql("ivfpq", "pq_scored", "np", "adec ASC")}
    {_frontier_sql("lsh_mt", "mt_scored_r", "rd", "cos DESC")}
    {_frontier_sql("lsh_mt_tables", "mt_scored_t", "tl", "cos DESC")}
    {_frontier_sql("sq8_rr", "sq8rr_scored", "rrl", "cos DESC")}
    SELECT * FROM lsh_out
    UNION ALL SELECT * FROM ivf_out
    UNION ALL SELECT * FROM ivfpq_out
    UNION ALL SELECT * FROM lsh_mt_out
    UNION ALL SELECT * FROM lsh_mt_tables_out
    UNION ALL SELECT * FROM sq8_rr_out
"""


ORACLE["knn_recall_tradeoff"] = _tradeoff_sql()

# Footprint mirror: every stored-artifact row count re-derived from the
# index DEFINITIONS — the trainings replay (surviving-cell counts are
# data-dependent), the deterministic shapes are closed forms. Spark
# counts the persisted files; equality certifies the stored artifacts
# match their definitions.
_FOOTPRINT_CONST_FRONTIER_ROWS = (
    2 * len(TRADEOFF_RADII)  # lsh + lsh_mt radius axes
    + V.LSH_TABLES  # lsh_mt_tables axis
    + len(SQ8_RERANK_LEVELS)  # sq8_rr rerank-depth axis
)
ORACLE["knn_index_footprint"] = f"""
    WITH e AS (
        SELECT vec_id, {V.as_double_sql("embedding")} AS v FROM embeddings
    ){_TRAIN_CTES}{_pq_ctes()}, nl AS (
        SELECT COUNT(*) AS nl FROM (
            SELECT DISTINCT UNNEST([(k + 15) // 16, (k + 7) // 8,
                                    (k + 3) // 4, (k + 2) // 3,
                                    (k + 1) // 2]) AS probe
            FROM pk
        )
    ), counts AS (
        SELECT 'ground_truth' AS artifact,
               {N_QUERIES} * {TOP_K} AS n_rows
        UNION ALL SELECT 'ivf_codebook', (SELECT COUNT(*) FROM seeds)
        UNION ALL SELECT 'ivf_postings',
            (SELECT n FROM pk)
            * LEAST((SELECT COUNT(*) FROM seeds),
                    (SELECT maxprobe FROM pk))
        UNION ALL SELECT 'lsh_mt_postings',
            (SELECT n FROM pk) * {V.LSH_TABLES}
        UNION ALL SELECT 'lsh_postings', (SELECT n FROM pk)
        UNION ALL SELECT 'pq_codes', (SELECT n FROM pk) * {PQ_M}
        UNION ALL SELECT 'pq_subcodebook', (SELECT COUNT(*) FROM sseeds)
        UNION ALL SELECT 'recall_frontier',
            {_FOOTPRINT_CONST_FRONTIER_ROWS} + 2 * (SELECT nl FROM nl)
        UNION ALL SELECT 'sq8_codes', (SELECT n FROM pk)
    )
    SELECT artifact, CAST(n_rows AS BIGINT) AS n_rows,
           ROUND(n_rows / CAST((SELECT n FROM pk) AS DOUBLE), 6)
               AS rows_per_vector
    FROM counts ORDER BY artifact
"""

# GC audit: the oracle derives each planted generation's stored row
# counts from the sizing DEFINITIONS — live/stale_corpus under the
# current k, stale_params under the superseded factor-1.0 rule — while
# Spark counts the planted files (the footprint integrity trick).
ORACLE["knn_index_gc_audit"] = f"""
    WITH e AS (
        SELECT vec_id FROM embeddings
    ){_PARAMS_CTE}, p2 AS (
        SELECT k,
               LEAST(GREATEST(CAST(CEIL({GC_SUPERSEDED_K_FACTOR}
                                        * SQRT(n)) AS BIGINT),
                              {IVF_K_MIN}), {IVF_K_MAX}) AS k_old
        FROM pk
    ), g AS (
        SELECT 'live' AS generation, k + (k + 1) // 2 AS n_rows,
               TRUE AS is_live
        FROM p2
        UNION ALL
        SELECT 'stale_corpus', k + (k + 1) // 2, FALSE FROM p2
        UNION ALL
        SELECT 'stale_params', k_old + (k_old + 1) // 2, FALSE FROM p2
    )
    SELECT generation, CAST(2 AS BIGINT) AS n_tables,
           CAST(n_rows AS BIGINT) AS n_rows, is_live,
           NOT is_live AS reclaim
    FROM g ORDER BY generation
"""

# Autotune selection over the frontier: the full tradeoff oracle nests
# as a CTE; the shared tie rule (clears-target, then cheapest probe,
# then best recall) replays exactly.
ORACLE["knn_operating_point"] = f"""
    WITH fr AS ({ORACLE["knn_recall_tradeoff"]}),
    ranked AS (
        SELECT method, probe, recall_at_k, cand_rows,
               (recall_at_k >= {RECALL_TARGET}) AS meets_target,
               ROW_NUMBER() OVER (
                   PARTITION BY method
                   ORDER BY (recall_at_k >= {RECALL_TARGET}) DESC,
                            CASE WHEN recall_at_k >= {RECALL_TARGET}
                                 THEN probe ELSE {2**31 - 1} END ASC,
                            recall_at_k DESC, probe ASC
               ) AS rn
        FROM fr
    )
    SELECT method, probe, recall_at_k, cand_rows, meets_target
    FROM ranked WHERE rn = 1
"""


def _projection_quality_sql() -> str:
    comps = V.projection_sql("v")
    pn2 = " + ".join(f"({c}) * ({c})" for c in comps)
    return f"""
        WITH e AS (
            SELECT label, {V.as_double_sql("embedding")} AS v FROM embeddings
        ), r AS (
            SELECT label,
                   ROUND(sqrt({pn2}) / {V.norm_sql("v")}, 6) AS r
            FROM e
        )
        SELECT label, COUNT(*) AS n_vectors,
               {ex.davg_sql("r")} AS avg_norm_ratio,
               ROUND(MIN(r), 6) AS min_norm_ratio,
               ROUND(MAX(r), 6) AS max_norm_ratio
        FROM r GROUP BY label
    """


ORACLE["embedding_projection_quality"] = _projection_quality_sql()

# Incremental index maintenance: history-trained codebook (the _TRAIN_CTES
# chain over e = history rows only), then ONE assignment pass over ALL
# vectors with the (cosine DESC, cell_id) tie rule, split-labelled.
ORACLE["knn_index_update_stats"] = f"""
    WITH eall AS (
        SELECT vec_id, {V.as_double_sql("embedding")} AS v FROM embeddings
    ), e AS (
        SELECT * FROM eall WHERE vec_id % {SPLIT_MOD} != 0
    ){_TRAIN_CTES}, sc AS (
        SELECT a.vec_id, s.cell_id,
               ROUND({V.cosine_sql("a.v", "s.cv")}, 6) AS c
        FROM eall a CROSS JOIN seeds s
    ), asn AS (
        SELECT vec_id, cell_id, c,
               (vec_id % {SPLIT_MOD} = 0) AS incoming
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c DESC, cell_id) AS r
            FROM sc
        ) WHERE r = 1
    )
    SELECT cell_id,
           CAST(SUM(CASE WHEN NOT incoming THEN 1 ELSE 0 END) AS BIGINT)
               AS n_history,
           CAST(SUM(CASE WHEN incoming THEN 1 ELSE 0 END) AS BIGINT)
               AS n_incoming,
           ROUND(SUM(CASE WHEN incoming THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS incoming_share,
           {ex.davg_sql("CASE WHEN NOT incoming THEN c END")}
               AS avg_cos_history,
           {ex.davg_sql("CASE WHEN incoming THEN c END")}
               AS avg_cos_incoming
    FROM asn GROUP BY cell_id
"""

# Decision layer over the drift report: the full update-stats oracle
# nests as a CTE, then the same thresholds/CASE/rollup replay in SQL.
ORACLE["knn_index_retrain_decision"] = f"""
    WITH per_cell AS ({ORACLE["knn_index_update_stats"]}),
    judged AS (
        SELECT CASE
                 WHEN n_incoming >= {MIN_INCOMING}
                      AND ROUND(avg_cos_history - avg_cos_incoming, 6)
                          >= {DRIFT_RETRAIN}
                      THEN 'retrain'
                 WHEN n_incoming >= {MIN_INCOMING}
                      AND incoming_share >= {SHARE_HOT}
                      THEN 'hot'
                 ELSE 'keep'
               END AS verdict,
               n_history, n_incoming,
               ROUND(avg_cos_history - avg_cos_incoming, 6) AS drift
        FROM per_cell
    )
    SELECT verdict, COUNT(*) AS n_cells,
           CAST(SUM(n_history) AS BIGINT) AS n_history,
           CAST(SUM(n_incoming) AS BIGINT) AS n_incoming,
           {ex.davg_sql("drift")} AS avg_drift,
           ROUND(MAX(drift), 6) AS max_drift
    FROM judged GROUP BY verdict
"""

QUERIES = {
    "knn_bruteforce": knn_bruteforce,
    "knn_lsh": knn_lsh,
    "knn_lsh_multitable": knn_lsh_multitable,
    "knn_ivf": knn_ivf,
    "knn_ivf_filtered": knn_ivf_filtered,
    "knn_pq": knn_pq,
    "knn_ivfpq": knn_ivfpq,
    "knn_ivfpq_rerank": knn_ivfpq_rerank,
    "knn_sq8": knn_sq8,
    "knn_ivf_sq8": knn_ivf_sq8,
    "knn_sq8_rerank": knn_sq8_rerank,
    "knn_recall_report_lsh": _recall_report_family("lsh"),
    "knn_recall_report_prune": _recall_report_family("prune"),
    "knn_recall_report_compress": _recall_report_family("compress"),
    "knn_recall_report_hybrid_pq": _recall_report_family("hybrid_pq"),
    "knn_recall_report_hybrid_sq8": _recall_report_family("hybrid_sq8"),
    "knn_recall_tradeoff": knn_recall_tradeoff,
    "knn_index_footprint": knn_index_footprint,
    "knn_index_gc_audit": knn_index_gc_audit,
    "knn_operating_point": knn_operating_point,
    "knn_index_update_stats": index_update_stats,
    "knn_index_retrain_decision": index_retrain_decision,
    "embedding_projection_quality": projection_quality,
    "embedding_cosine_dups": cosine_dup_pairs,
    "embedding_semantic_keep_stats": semantic_keep_stats,
    "embedding_kmeans": embedding_kmeans,
    "embedding_label_centroids": label_centroids,
    "embedding_norm_stats": norm_stats,
}
