"""Deterministic-sampling invariants: membership is content-keyed, so it
cannot depend on partitioning, row order, or engine — the property that
makes hash sampling usable for reproducible eval splits at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.functions import hashing
from automotive_big_data_analysis_spark.operators.sampling import SAMPLE_BUCKETS


def test_membership_invariant_under_partitioning(spark):
    ids = spark.range(0, 5000).select(F.col("id").cast("string").alias("k"))
    picks = [
        set(
            r.k
            for r in ids.repartition(n)
            .where(hashing.bucket(F.col("k"), SAMPLE_BUCKETS) < 100)
            .collect()
        )
        for n in (1, 3, 32)
    ]
    assert picks[0] == picks[1] == picks[2]
    # ~10% rate, content-keyed → stable and plausibly sized
    assert 350 <= len(picks[0]) <= 650


def test_buckets_cover_range_uniformly(spark):
    ids = spark.range(0, 20_000).select(F.col("id").cast("string").alias("k"))
    stats = (
        ids.select(hashing.bucket(F.col("k"), SAMPLE_BUCKETS).alias("b"))
        .agg(
            F.min("b").alias("lo"),
            F.max("b").alias("hi"),
            F.countDistinct("b").alias("nb"),
        )
        .first()
    )
    assert stats.lo >= 0 and stats.hi < SAMPLE_BUCKETS
    assert stats.nb > SAMPLE_BUCKETS * 0.95  # all buckets populated


def test_split_partitions_are_disjoint_and_exhaustive(spark):
    ids = spark.range(0, 3000).select(F.col("id").cast("string").alias("k"))
    b = hashing.bucket(F.col("k"), SAMPLE_BUCKETS)
    split = F.when(b < 800, "train").when(b < 900, "val").otherwise("test")
    got = {
        r.split: r.n
        for r in ids.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == {"train", "val", "test"}
    assert sum(got.values()) == 3000
    assert got["train"] > got["val"] and got["train"] > got["test"]


def test_leakage_safe_split_chain(spark, tmp_path_factory):
    """A~B~C near-dup chain (A≁C directly): the group-keyed split must
    put all three in ONE split (leaked_pairs = 0 structurally), totals
    must cover the corpus under both policies."""
    from automotive_big_data_analysis_spark.operators import dedup
    from automotive_big_data_analysis_spark.operators.sampling import (
        leakage_safe_split,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    a = base
    b = base.replace("tok5", "B5").replace("tok6", "B6")
    c = b.replace("tok30", "C30").replace("tok31", "C31")
    far = "unrelated words entirely " + " ".join(f"x{i}" for i in range(30))
    path = str(tmp_path_factory.mktemp("leak"))
    rows = [
        (i, t, "en", "s", len(t))
        for i, t in enumerate([a, b, c, far] + [f"{far} extra{i}" for i in range(6)])
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    try:
        got = {r.policy: r for r in leakage_safe_split(spark, path).collect()}
    finally:
        dedup.release(path)
    assert set(got) == {"doc_keyed", "group_keyed"}
    n = len(rows)
    for row in got.values():
        assert row.n_train + row.n_val + row.n_test == n
    assert got["group_keyed"].leaked_pairs == 0
    assert got["doc_keyed"].leaked_pairs >= 0


def test_exact_quota_sample_is_exact_and_equals_naive_rank(spark):
    """n_selected must equal the floor-quota EXACTLY per language, and
    the bucketed two-pass rank must select the identical document set
    as the naive per-lang window over the md5 order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.operators import sampling as sp

    sf = "/root/testdata/sf0.001"
    rows = sp.exact_quota_sample(spark, sf).collect()
    assert rows
    for r in rows:
        assert r.n_selected == r.quota == (r.n_docs * sp.QUOTA_PERMILLE) // 1000
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    naive = (
        docs.withColumn("rn", F.row_number().over(w))
        .join(
            docs.groupBy("lang").agg(
                F.floor(
                    F.count("*") * sp.QUOTA_PERMILLE / 1000
                ).alias("quota")
            ),
            "lang",
        )
        .where(F.col("rn") <= F.col("quota"))
        .groupBy("lang")
        .agg(F.sum("doc_id").cast("long").alias("id_sum"))
        .collect()
    )
    assert {r.lang: r.id_sum for r in rows} == {
        r.lang: r.id_sum for r in naive
    }
