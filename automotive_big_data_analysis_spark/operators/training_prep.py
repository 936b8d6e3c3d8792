"""Training-set preparation operators: contamination screening, shard
packing, domain rebalancing, and tokenizer pair statistics.

Training-data-pipeline extension (no reference analog — the reference's
surface stops at single-table SQL, SURVEY §2): the operations that sit
between a curated corpus (``operators/pipeline.py``) and a training
run:

* benchmark contamination — n-gram overlap of every candidate document
  against a held-out benchmark set, so eval data can be excised from the
  training corpus (the decontamination step every LLM data pipeline runs);
* token-budget shard packing — a distributed prefix sum assigns documents
  to fixed-token-budget training shards in a deterministic global order;
* temperature rebalancing — per-domain keep rates derived from observed
  counts (rate ∝ count^(α-1), the multilingual "temperature sampling"
  rule), applied as a deterministic content-keyed filter;
* BPE pair statistics — adjacent wordpiece-pair frequencies, i.e. the
  candidate-scoring pass of one byte-pair-encoding merge round;
* BPE merge training — the iterative driver-coordinated tokenizer-
  training loop (canonical non-overlapping merge application, identical
  across Spark/DuckDB/Python via the space-doubling replace trick);
* BPE apply — the post-training encode pass: per-language token counts
  and chars/token compression with the trained merge table.

Everything is built-in JVM expressions (regexp / higher-order array
functions / windows) — no Python in the row path — and every operator has
an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table, spread
from automotive_big_data_analysis_spark.functions import exact as ex
from automotive_big_data_analysis_spark.functions import hashing
from automotive_big_data_analysis_spark.functions import text as tx
from automotive_big_data_analysis_spark.operators.sampling import SAMPLE_BUCKETS

# --- benchmark contamination ------------------------------------------------

# The held-out "benchmark" is the src0 slice of the corpus — stand-in for
# an eval suite (MMLU, GSM8K, …); a real pipeline swaps in its benchmark
# corpus. 8-gram overlap is the published decontamination granularity
# (GPT-3 used 13-grams, PaLM 8-grams); this corpus's documents are short,
# so 8 keeps per-doc gram counts meaningful.
BENCH_SOURCE = "src0"
CONTAM_N = 8
CONTAM_FLAG_RATIO = 0.5  # flag a doc when ≥ half its 8-grams are benchmark


def _gram_hashes(toks: str):
    """Distinct word-8-gram md5 hashes of a token array (md5 keeps
    joins/broadcasts at 32 bytes per gram)."""
    return F.array_distinct(F.transform(tx.ngrams(toks, CONTAM_N), F.md5))


def contamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang contamination of candidate docs against the benchmark set.

    A candidate doc's contamination ratio is the fraction of its distinct
    word-8-grams that appear anywhere in the benchmark slice; docs with
    fewer than 8 tokens have no grams and ratio 0.

    Scale shape: the benchmark gram set is eval-suite-sized at ANY corpus
    scale — it broadcasts. Candidate grams explode map-side, the broadcast
    join marks hits without a shuffle, and the only exchanges are the
    per-doc count (keyed on doc_id, linear in gram volume, partial-agg
    combined) and the |langs|-row final rollup. Nothing is pairwise."""
    docs = load_table(spark, sf_dir, "documents")
    # each side tokenizes only its own slice (the source filter pushes to
    # the scan) and spreads the token arrays before the gram work
    bench_toks = spread(
        docs.where(F.col("source") == BENCH_SOURCE).select(
            tx.tokens("text").alias("toks")
        )
    )
    bench_grams = (
        bench_toks.select(F.explode(_gram_hashes("toks")).alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    cand = spread(
        docs.where(F.col("source") != BENCH_SOURCE).select(
            "doc_id", "lang", tx.tokens("text").alias("toks")
        )
    )
    per_doc = (
        cand.select("doc_id", F.explode(_gram_hashes("toks")).alias("g"))
        .join(F.broadcast(bench_grams), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
    )
    ratio = F.coalesce(F.col("n_hits") / F.col("n_grams"), F.lit(0.0))
    return (
        cand.select("doc_id", "lang")
        .join(per_doc, "doc_id", "left")  # keep zero-gram docs (ratio 0)
        .select("lang", ratio.alias("ratio"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("ratio") >= CONTAM_FLAG_RATIO).cast("int"))
            .cast("long")
            .alias("n_flagged"),
            ex.davg("ratio").alias("avg_contamination"),
        )
    )


# --- token-budget shard packing ---------------------------------------------

SHARD_BUDGET = 4096  # tokens per training shard

# Global order for packing: (md5(text), doc_id) — content-keyed, so the
# "shuffled" training order is deterministic across engines, retries, and
# partition layouts, with doc_id breaking exact-duplicate ties.


def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to a fixed-token-budget training shard and
    report per-shard document counts and token totals.

    A document belongs to shard ``floor(start_offset / BUDGET)`` where
    ``start_offset`` is the running token total of all documents before it
    in the global (md5(text), doc_id) order — i.e. documents are laid out
    on a token number line and the line is cut every BUDGET tokens.

    Scale shape — distributed prefix sum, NOT a single global window: a
    one-partition ``ORDER BY`` window over the corpus is the textbook
    scale killer, so the running total is computed in two passes. Pass 1
    groups by the first hex digit of the hash (16 range buckets — a
    prefix of the sort key, so bucket order IS global order; widen the
    prefix for more buckets at scale) and computes per-bucket token
    totals; the cumulative bucket offsets come from a window over that
    |buckets|-row aggregate. Pass 2 computes the within-bucket running
    total with a window PARTITIONED by bucket (parallel across buckets)
    and adds the broadcast offset. Shuffles: one |buckets|-row agg, one
    window keyed on bucket. The oracle is the naive single-window SQL —
    same numbers, different (scalable) plan."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        tx.token_count("text").cast("long").alias("tok"),
    ).withColumn("bucket", F.conv(F.substring("h", 1, 1), 16, 10).cast("int"))
    bucket_totals = base.groupBy("bucket").agg(F.sum("tok").alias("btok"))
    w_off = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = bucket_totals.select(
        "bucket", (F.sum("btok").over(w_off) - F.col("btok")).alias("offset")
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = (
        base.join(F.broadcast(offsets), "bucket")
        .withColumn("cum_end", F.col("offset") + F.sum("tok").over(w_in))
        .withColumn(
            "shard_id",
            F.floor((F.col("cum_end") - F.col("tok")) / SHARD_BUDGET),
        )
    )
    return placed.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").cast("long").alias("shard_tokens"),
    )


# --- temperature rebalancing ------------------------------------------------

TEMP_ALPHA = 0.5  # sampling temperature: target share ∝ count^α


def temperature_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep rates from temperature sampling (α = 0.5) and the
    resulting mix: rate_l ∝ count_l^(α−1), normalized so the rarest
    language keeps everything — the standard multilingual flattening rule
    (common languages are downsampled toward the rare ones). Inclusion is
    content-keyed (md5 bucket of doc_id), so the sample is reproducible on
    any engine or layout.

    Scale shape: pass 1 is a |langs|-row count aggregate; the global min
    joins in as a one-row broadcast; pass 2 re-scans documents with the
    broadcast rate map and aggregates kept counts — two linear scans, no
    fact-scale shuffle (both aggregations combine map-side)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    min_count = counts.agg(F.min("n_docs").alias("min_docs"))
    # sqrt, not pow(x, 0.5): sqrt is IEEE-correctly-rounded on BOTH
    # engines; libm pow is not, and an ulp disagreement at a floor
    # boundary would flip a rate between Spark and the oracle. (α = 0.5
    # makes the exponent exactly 1/2; a different α would need a shared
    # exact formulation.)
    rates = counts.join(F.broadcast(min_count)).select(
        "lang",
        "n_docs",
        F.floor(
            F.lit(1000.0) * F.sqrt(F.col("min_docs") / F.col("n_docs"))
        )
        .cast("int")
        .alias("rate_permille"),
    )
    kept = (
        docs.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .where(
            hashing.bucket(F.col("doc_id").cast("string"), SAMPLE_BUCKETS)
            < F.col("rate_permille")
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return rates.join(kept, "lang", "left").select(
        "lang",
        "n_docs",
        "rate_permille",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


# --- deterministic epoch shuffle --------------------------------------------

N_EPOCHS = 2  # demo epochs; the rank machinery is per-epoch-independent


def training_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order per training epoch, with
    between-epoch displacement statistics.

    A training run needs every epoch to visit the corpus in a different
    but REPRODUCIBLE order (restarts, data-parallel workers, and audits
    must all agree on example order without materializing a permutation
    on one node). Epoch e's order is ``md5(e || ':' || doc_id)`` — a
    content-keyed pseudo-permutation any engine can replay. The report
    shows, per language, how far documents move between consecutive
    epochs (mean/max absolute rank displacement): a healthy shuffle
    re-scatters everything (mean ≈ N/3 for a uniform permutation), while
    mean ≈ 0 would flag a broken epoch key.

    Scale shape — the global rank is the distributed two-pass prefix
    count, NOT a single-partition window: rows bucket by the first hex
    digit of the epoch key (a prefix of the sort key, so bucket order IS
    global order); per-(epoch, bucket) counts aggregate map-side; the
    cumulative offsets window runs over that |epochs|×16-row aggregate;
    within-bucket ``row_number`` windows are PARTITIONED by (epoch,
    bucket) — parallel. Both epochs ride ONE scan (epoch ids explode
    map-side) and the final displacement join is a per-doc two-row
    groupBy, not a self-join."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", "lang")
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.array(*[F.lit(e) for e in range(N_EPOCHS)])
            ).alias("epoch"),
        )
        .withColumn(
            "h", F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id")))
        )
        .withColumn(
            "bucket", F.conv(F.substring("h", 1, 1), 16, 10).cast("int")
        )
    )
    counts = base.groupBy("epoch", "bucket").agg(F.count("*").alias("bn"))
    w_off = (
        Window.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = counts.select(
        "epoch", "bucket", (F.sum("bn").over(w_off) - F.col("bn")).alias("off")
    )
    w_in = Window.partitionBy("epoch", "bucket").orderBy("h", "doc_id")
    ranked = base.join(F.broadcast(offsets), ["epoch", "bucket"]).withColumn(
        "rank", F.col("off") + F.row_number().over(w_in)
    )
    per_doc = ranked.groupBy("doc_id", "lang").agg(
        F.max(F.when(F.col("epoch") == 0, F.col("rank"))).alias("r0"),
        F.max(F.when(F.col("epoch") == 1, F.col("rank"))).alias("r1"),
    )
    disp = F.abs(F.col("r0") - F.col("r1"))
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        ex.davg(disp.cast("double")).alias("avg_displacement"),
        F.max(disp).cast("long").alias("max_displacement"),
    )


# --- BPE pair statistics ----------------------------------------------------

BPE_TOP_K = 20


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent wordpiece-pair frequencies — the candidate-scoring pass of
    one BPE merge round (the highest-count pair is the merge a tokenizer
    trainer would apply). Pieces come from the same pre-tokenization split
    as ``text_wordpiece_stats`` (letter runs / digit runs / punctuation).

    Scale shape: pair extraction is a map-side array expression; the
    explode feeds a hash aggregation keyed on the pair string (partial
    combine makes the shuffle |pair-vocabulary|-sized, not corpus-sized);
    top-k is TakeOrdered, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    staged = spread(docs.select(tx.wordpieces("text").alias("p")))
    return (
        staged.select(F.explode(tx.ngrams("p", 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(BPE_TOP_K)
    )


BPE_MERGE_ROUNDS = 3


def _bpe_merge_expr(col, pair: str, merged: str):
    """CANONICAL non-overlapping left-to-right merge of ``pair`` inside a
    sentinel-spaced symbol string (`` a b c ``), as a single chained
    ``replace`` — the space-DOUBLING trick: after ``' ' -> '  '`` every
    adjacent occurrence carries its own boundary spaces, so one
    non-overlapping replace of ``' a  b '`` merges EVERY occurrence
    (`` a b a b `` -> `` ab ab ``, matching tokenizer-standard BPE merge
    application), and the final ``'  ' -> ' '`` restores the single-space
    form exactly (the replacement re-establishes the doubled delimiter
    invariant, proven by test against a token-scan reference). Spark
    ``F.replace``, DuckDB ``replace`` and Python ``str.replace`` share
    these semantics, so the three engines compute the identical
    function."""
    doubled = F.replace(col, F.lit(" "), F.lit("  "))
    applied = F.replace(
        doubled,
        F.lit(" " + pair.replace(" ", "  ") + " "),
        F.lit(f" {merged} "),
    )
    return F.replace(applied, F.lit("  "), F.lit(" "))


def _bpe_merge_sql_expr(expr: str, pair_sql: str, merged_sql: str) -> str:
    """The DuckDB twin of :func:`_bpe_merge_expr` (``pair_sql`` /
    ``merged_sql`` are SQL string expressions, e.g. scalar subqueries)."""
    return (
        f"replace(replace(replace({expr}, ' ', '  '), "
        f"' ' || replace({pair_sql}, ' ', '  ') || ' ', "
        f"' ' || {merged_sql} || ' '), '  ', ' ')"
    )


def _train_bpe(
    spark: SparkSession, sf_dir: str, with_affected: bool = True
) -> list[tuple]:
    """Run the ``BPE_MERGE_ROUNDS`` tokenizer-training loop; returns one
    ``(round, pair, merged, pair_count, pieces_affected)`` tuple per
    round. Shared by :func:`bpe_merge_table` (which reports it) and
    :func:`bpe_apply_stats` (which tokenizes the corpus with it).

    Vocabulary = maximal ASCII letter runs (identical
    ``regexp_extract_all(text, '[A-Za-z]+')`` on both engines) with
    corpus occurrence counts; each piece's symbol state is a
    space-joined character string with sentinel boundary spaces
    (`` a b c ``). Per round: (1) adjacent-pair counts weighted by
    piece count — a map-side array expression feeding one
    |pair-vocab|-sized partial-combined aggregation; (2) the merge =
    the max-count pair, ties broken on the pair string (TakeOrdered 1,
    a bounded driver round like the k-means model update); (3) apply
    the merge canonically via :func:`_bpe_merge_expr`. The tokenize
    pass is ``localCheckpoint``-ed once (the k-means trainer pattern);
    the per-round state stays lazy because its lineage is only ``3r``
    map-side literal replaces over that checkpoint."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+"), F.lit(0))
            ).alias("piece")
        )
        .groupBy("piece")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            "piece",
            "cnt",
            F.concat(
                F.lit(" "), F.regexp_replace("piece", "(.)", "$1 ")
            ).alias("s"),
        )
        .localCheckpoint()
    )
    rows = []
    cur = vocab
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        pairs = tx.ngrams(F.split(F.trim(F.col("s")), " "), 2)
        top = (
            cur.select(F.explode(pairs).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), "pair")
            .limit(1)
            .collect()
        )[0]
        merged = top.pair.replace(" ", "")
        # lineage stays shallow (3r literal replaces over the checkpointed
        # v0), so per-round re-checkpointing would only add jobs: the
        # vocabulary is |letter-piece|-sized and the replace is a
        # map-side expression
        nxt = cur.select(
            "piece",
            "cnt",
            _bpe_merge_expr(F.col("s"), top.pair, merged).alias("s"),
            F.col("s").alias("prev_s"),
        )
        # pieces_affected is a REPORTING column of bpe_merge_table only;
        # the apply path consumes just (pair, merged), so skipping the
        # count drops one full vocab-scan job per round (round 13).
        affected = (
            nxt.where(F.col("s") != F.col("prev_s")).count()
            if with_affected
            else 0
        )
        rows.append((rnd, top.pair, merged, int(top.c), int(affected)))
        cur = nxt.select("piece", "cnt", "s")
    return rows


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN ``BPE_MERGE_ROUNDS`` byte-pair-encoding merges — the
    iterative tokenizer-training loop itself, completing the lifecycle
    :func:`bpe_pair_stats` only scores one round of (the
    embedding_kmeans pattern applied to text: a driver-coordinated loop
    whose per-round heavy lifting is distributed, unrolled verbatim by
    the DuckDB oracle — see :func:`_train_bpe` for the loop shape).

    Merge application is CANONICAL non-overlapping BPE (every
    occurrence merges, `` a b a b `` -> `` ab ab ``) via
    :func:`_bpe_merge_expr`'s space-doubling trick, identical across
    Spark/DuckDB/Python and pinned by test against a token-scan
    reference.

    Output: one row per round — the merged pair, its weighted count,
    and how many distinct vocabulary pieces the merge rewrote. At
    100 TB the loop's per-round cost is |letter-piece vocabulary|-
    sized (millions of rows), not corpus-sized: the corpus is read
    once to build the weighted vocabulary."""
    rows = _train_bpe(spark, sf_dir)
    return spark.createDataFrame(
        rows,
        "round int, pair string, merged string, pair_count long, "
        "pieces_affected long",
    ).orderBy("round")


def bpe_apply_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained BPE merge table to the corpus — the encode pass
    every tokenizer pipeline runs after training, and the measurement
    that justifies training at all: per-language token counts and
    compression (chars/token) after the ``BPE_MERGE_ROUNDS`` merges
    (before any merge each character is its own token, so
    ``total_chars`` IS the before-token-count and the before-ratio is
    identically 1.0).

    Tokenization is applied to the per-language letter-run VOCABULARY
    weighted by occurrence count, never to raw documents — identical
    words tokenize identically, so the encode pass is
    |lang × piece-vocab|-sized while the reported totals are
    corpus-sized (the same aggregation-pushdown shape as
    :func:`_train_bpe`; at 100 TB the corpus is read once for the
    weighted vocabulary and the merge chain is ``3r`` map-side literal
    replaces). The merges come from :func:`_train_bpe` (driver-bounded:
    one 1-row TakeOrdered per round); the DuckDB oracle unrolls the
    same training rounds verbatim and applies the identical canonical
    replace chain."""
    merges = [
        (r[1], r[2]) for r in _train_bpe(spark, sf_dir, with_affected=False)
    ]
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            "lang",
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+"), F.lit(0))
            ).alias("piece"),
        )
        .groupBy("lang", "piece")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    s = F.concat(F.lit(" "), F.regexp_replace("piece", "(.)", "$1 "))
    for pair, merged in merges:
        s = _bpe_merge_expr(s, pair, merged)
    per = vocab.select(
        "lang",
        "cnt",
        F.length("piece").cast("long").alias("chars"),
        F.size(F.split(F.trim(s), " ")).cast("long").alias("tok"),
    )
    total_chars = F.sum(F.col("cnt") * F.col("chars"))
    total_tokens = F.sum(F.col("cnt") * F.col("tok"))
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_pieces"),
            F.sum("cnt").cast("long").alias("piece_occurrences"),
            total_chars.cast("long").alias("total_chars"),
            total_tokens.cast("long").alias("total_tokens"),
            (total_chars.cast("double") / total_tokens.cast("double")).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


def _bpe_train_ctes() -> list[str]:
    """Unrolled CTE chain mirroring :func:`_train_bpe` round for round
    (the embedding_kmeans oracle pattern): v0 is the weighted letter-run
    vocabulary with sentinel-spaced symbol strings; each round derives
    pair counts, picks the (count desc, pair asc) top-1 via scalar
    subqueries, and applies the identical CANONICAL replace chain
    (:func:`_bpe_merge_sql_expr`). Shared by the merge-table and the
    apply oracles."""
    ctes = [
        """v0 AS (
            SELECT piece, CAST(COUNT(*) AS BIGINT) AS cnt,
                   ' ' || regexp_replace(piece, '(.)', '\\1 ', 'g') AS s
            FROM (
                SELECT UNNEST(regexp_extract_all(text, '[A-Za-z]+')) AS piece
                FROM documents
            ) GROUP BY piece
        )"""
    ]
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        p = r - 1
        applied = _bpe_merge_sql_expr(
            "s", f"(SELECT pair FROM t{r})", f"(SELECT merged FROM t{r})"
        )
        ctes.append(
            f"""p{r} AS (
            SELECT pair, CAST(SUM(cnt) AS BIGINT) AS c FROM (
                SELECT cnt, UNNEST({tx.ngrams_sql("arr", 2)}) AS pair
                FROM (SELECT cnt, string_split(trim(s), ' ') AS arr FROM v{p})
            ) GROUP BY pair
        ), t{r} AS (
            SELECT pair, c, replace(pair, ' ', '') AS merged
            FROM p{r} ORDER BY c DESC, pair LIMIT 1
        ), v{r} AS (
            SELECT piece, cnt, {applied} AS s, s AS prev_s
            FROM v{p}
        ), a{r} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS aff FROM v{r}
            WHERE s != prev_s
        )"""
        )
    return ctes


def _bpe_merge_sql() -> str:
    """DuckDB oracle for :func:`bpe_merge_table`."""
    selects = " UNION ALL ".join(
        f"""SELECT {r} AS round, t{r}.pair, t{r}.merged,
               t{r}.c AS pair_count, (SELECT aff FROM a{r}) AS pieces_affected
           FROM t{r}"""
        for r in range(1, BPE_MERGE_ROUNDS + 1)
    )
    return f"WITH {', '.join(_bpe_train_ctes())} {selects} ORDER BY round"


def _bpe_apply_sql() -> str:
    """DuckDB oracle for :func:`bpe_apply_stats`: the same unrolled
    training rounds, then the identical canonical replace chain applied
    to the per-language weighted vocabulary."""
    s = "' ' || regexp_replace(piece, '(.)', '\\1 ', 'g')"
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        s = _bpe_merge_sql_expr(
            s, f"(SELECT pair FROM t{r})", f"(SELECT merged FROM t{r})"
        )
    return f"""WITH {', '.join(_bpe_train_ctes())}, lv AS (
            SELECT lang, piece, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (
                SELECT lang,
                       UNNEST(regexp_extract_all(text, '[A-Za-z]+')) AS piece
                FROM documents
            ) GROUP BY lang, piece
        ), applied AS (
            SELECT lang, cnt, CAST(len(piece) AS BIGINT) AS chars,
                   CAST(len(string_split(trim({s}), ' ')) AS BIGINT) AS tok
            FROM lv
        )
        SELECT lang, COUNT(*) AS n_pieces,
               CAST(SUM(cnt) AS BIGINT) AS piece_occurrences,
               CAST(SUM(cnt * chars) AS BIGINT) AS total_chars,
               CAST(SUM(cnt * tok) AS BIGINT) AS total_tokens,
               CAST(SUM(cnt * chars) AS DOUBLE)
                   / CAST(SUM(cnt * tok) AS DOUBLE) AS chars_per_token
        FROM applied GROUP BY lang ORDER BY lang"""


# --- DuckDB oracles ---------------------------------------------------------

ORACLE: dict[str, str] = {
    "contamination_stats": f"""
        WITH toks AS (
            SELECT doc_id, lang, source, {tx.tokens_sql("text")} AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, lang, source,
                   list_distinct(list_transform(
                       {tx.ngrams_sql("t", CONTAM_N)}, g -> md5(g))) AS gs
            FROM toks
        ), bench AS (
            SELECT DISTINCT UNNEST(gs) AS g FROM grams
            WHERE source = '{BENCH_SOURCE}'
        ), cand AS (
            SELECT doc_id, lang, gs FROM grams
            WHERE source != '{BENCH_SOURCE}'
        ), exploded AS (
            SELECT c.doc_id, g.g AS g
            FROM cand c, UNNEST(c.gs) AS g(g)
        ), per_doc AS (
            SELECT e.doc_id, COUNT(*) AS n_grams,
                   SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
            FROM exploded e LEFT JOIN bench b ON e.g = b.g
            GROUP BY e.doc_id
        ), ratios AS (
            SELECT c.lang,
                   COALESCE(CAST(p.n_hits AS DOUBLE) / p.n_grams, 0.0)
                       AS ratio
            FROM cand c LEFT JOIN per_doc p ON c.doc_id = p.doc_id
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN ratio >= {CONTAM_FLAG_RATIO}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               {ex.davg_sql("ratio")} AS avg_contamination
        FROM ratios GROUP BY lang
    """,
    "pack_token_shards": f"""
        WITH base AS (
            SELECT doc_id, md5(text) AS h,
                   CAST(len({tx.tokens_sql("text")}) AS BIGINT) AS tok
            FROM documents
        ), placed AS (
            SELECT tok,
                   CAST(FLOOR(CAST(
                       SUM(tok) OVER (ORDER BY h, doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - tok
                       AS DOUBLE) / {SHARD_BUDGET}) AS BIGINT) AS shard_id
            FROM base
        )
        SELECT shard_id, COUNT(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS shard_tokens
        FROM placed GROUP BY shard_id
    """,
    "temperature_rebalance": f"""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        ), rates AS (
            SELECT lang, n_docs,
                   CAST(FLOOR(1000.0 * SQRT(
                       CAST((SELECT MIN(n_docs) FROM counts) AS DOUBLE)
                           / n_docs)) AS INTEGER) AS rate_permille
            FROM counts
        ), kept AS (
            SELECT d.lang, COUNT(*) AS n_kept
            FROM documents d JOIN rates r ON d.lang = r.lang
            WHERE {hashing.bucket_sql("CAST(d.doc_id AS VARCHAR)", SAMPLE_BUCKETS)}
                  < r.rate_permille
            GROUP BY d.lang
        )
        SELECT r.lang, r.n_docs, r.rate_permille,
               CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
        FROM rates r LEFT JOIN kept k ON r.lang = k.lang
    """,
    "training_epoch_order": f"""
        WITH ranked AS (
            SELECT d.doc_id, d.lang, e.epoch,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.epoch
                       ORDER BY md5(CAST(e.epoch AS VARCHAR) || ':'
                                    || CAST(d.doc_id AS VARCHAR)), d.doc_id
                   ) AS rank
            FROM documents d
            CROSS JOIN (SELECT UNNEST(range(0, {N_EPOCHS})) AS epoch) e
        ), per_doc AS (
            SELECT doc_id, lang,
                   MAX(CASE WHEN epoch = 0 THEN rank END) AS r0,
                   MAX(CASE WHEN epoch = 1 THEN rank END) AS r1
            FROM ranked GROUP BY doc_id, lang
        )
        SELECT lang, COUNT(*) AS n_docs,
               {ex.davg_sql("CAST(ABS(r0 - r1) AS DOUBLE)")}
                   AS avg_displacement,
               CAST(MAX(ABS(r0 - r1)) AS BIGINT) AS max_displacement
        FROM per_doc GROUP BY lang
    """,
    "text_bpe_pairs": f"""
        WITH pieces AS (
            SELECT {tx.wordpieces_sql("text")} AS p FROM documents
        ), pairs AS (
            SELECT UNNEST({tx.ngrams_sql("p", 2)}) AS pair FROM pieces
        )
        SELECT pair, COUNT(*) AS n FROM pairs
        GROUP BY pair ORDER BY n DESC, pair LIMIT {BPE_TOP_K}
    """,
}

ORACLE["text_bpe_merges"] = _bpe_merge_sql()
ORACLE["text_bpe_apply"] = _bpe_apply_sql()

QUERIES = {
    "contamination_stats": contamination_stats,
    "pack_token_shards": pack_token_shards,
    "temperature_rebalance": temperature_rebalance,
    "text_bpe_pairs": bpe_pair_stats,
    "text_bpe_merges": bpe_merge_table,
    "text_bpe_apply": bpe_apply_stats,
    "training_epoch_order": training_epoch_order,
}
