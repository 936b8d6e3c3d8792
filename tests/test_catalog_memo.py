"""catalog.load_table memoization: plan reuse must never outlive the
table's files (round-14 fix for the round-13 stale-listing defect)."""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import load_table
from tests.conftest import SF_SMOKE


def test_load_table_memo_hits_and_self_invalidates(spark, tmp_path):
    work = str(tmp_path / "corpus")
    os.makedirs(work)
    spark.range(10).selectExpr("id AS doc_id").write.parquet(
        f"{work}/documents.parquet"
    )
    first = load_table(spark, work, "documents")
    assert first.count() == 10
    # memo hit: identical plan object back while the files are unchanged
    assert load_table(spark, work, "documents") is first
    # in-session rewrite: the fingerprint changes, so the stale plan
    # (frozen file listing) must be dropped, not served
    tmp = f"{work}/documents.parquet.new"
    spark.range(25).selectExpr("id AS doc_id").write.parquet(tmp)
    shutil.rmtree(f"{work}/documents.parquet")
    os.rename(tmp, f"{work}/documents.parquet")
    fresh = load_table(spark, work, "documents")
    assert fresh is not first
    assert fresh.count() == 25


def test_load_table_is_zone_free_and_thread_safe(spark):
    """4 threads load ``events`` on a cold memo under a non-UTC session:
    the epoch values match the naive-as-UTC reading, the session zone is
    untouched, and the memo ends with one entry for the table."""
    ts = pq.read_table(f"{SF_SMOKE}/events.parquet", columns=["ts"]).column("ts")
    us = ts.cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
    expected = sum(v // 10**6 for v in us)

    kolkata = spark.newSession()  # own conf and own memo, shared context
    kolkata.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")

    def epoch_sum(_):
        df = load_table(kolkata, SF_SMOKE, "events")
        return df.agg(F.sum(F.col("ts").cast("long"))).first()[0]

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' memo accesses
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            sums = list(pool.map(epoch_sum, range(4), timeout=300))
    finally:
        sys.setswitchinterval(switch)
    assert sums == [expected] * 4
    assert kolkata.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
    assert list(kolkata._abda_table_memo) == [(SF_SMOKE, "events")]
