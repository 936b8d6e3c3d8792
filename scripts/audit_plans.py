"""Global physical-plan audit over EVERY registered query.

tests/test_plans.py asserts plan shape for targeted query classes; this
sweep closes the gap between "the queries we thought to assert on" and
"all of them": it builds each of ``__spark_entry__.queries()``'s
DataFrames and checks two hard 100 TB invariants on the executed plan —

1. zero ``CartesianProduct`` operators anywhere, and
2. zero unpartitioned window specs, except on an explicit allowlist of
   queries whose window input is provably sub-fact-scale (each entry
   carries its justification; an unlisted query acquiring an
   unpartitioned window FAILS the audit, so the list is a ratchet).

Per query it also records the observability report the plan helpers
expose (shuffle count, codegen spans, broadcast joins, scans) so the
committed artifact doubles as a plan inventory.

Every derived store starts empty (``check_oracle.fresh_stores``), so the
audited plans read what this code builds.

Usage: PYTHONPATH=/root/repo python scripts/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
import time

from check_oracle import fresh_stores
from pyspark.sql import SparkSession

import __spark_entry__ as entry
from automotive_big_data_analysis_spark.plans import explain as ex

# Queries whose plan contains an unpartitioned window spec OVER A
# PROVABLY TINY INPUT — the justification names the bound. Anything not
# listed here that grows an unpartitioned window fails the audit.
TINY_UNPARTITIONED_WINDOW: dict[str, str] = {
    # 7-day moving average over the PER-DAY revenue aggregate: window
    # input is one row per calendar day (~2.4k rows at sf0.1), bounded
    # by the date span of the corpus, not by fact rows.
    "daily_revenue_moving_avg": "per-day aggregate, rows = calendar days",
    # Two-pass distributed prefix-sum: the unpartitioned running sum is
    # over the PER-BUCKET token-count aggregate — one row per pack
    # bucket (a fan-out constant), never the document rows themselves
    # (training_prep.py pack_token_shards, pass 1).
    "pack_token_shards": "per-bucket aggregate, rows = pack fan-out",
    # Compaction binning runs over the per-FILE inventory aggregate —
    # one row per data file (64 fragments here; a real lake's manifest
    # is metadata-sized, and past ~1e6 files the pack_token_shards
    # two-pass prefix sum applies verbatim — maintenance.py docstring).
    "maintenance_compaction_plan": "per-file inventory aggregate, rows = file count",
    # RRF rank windows run over the top-RRF_DEPTH (=100) TakeOrdered
    # pre-selections of each retriever — never the corpus (rag_prep.py
    # docs_hybrid_rrf; both windows are post-limit, input ≤ 100 rows).
    "docs_hybrid_rrf": "rank over top-100 TakeOrdered lists, rows <= 100 each",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    fresh_stores()
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .appName("audit_plans")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    failures: list[tuple[str, str]] = []
    t0 = time.time()
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = ex.physical_plan(df)
        except Exception as exc:  # noqa: BLE001 - audit must report, not die
            failures.append((name, f"build error: {exc}"))
            print(f"ERR   {name}: {exc}")
            continue
        cart = plan.count("CartesianProduct")
        unp = ex.unpartitioned_window_specs(df)
        rep = ex.plan_report(df)
        flags = []
        if cart:
            flags.append(f"CARTESIAN x{cart}")
            failures.append((name, f"CartesianProduct x{cart}"))
        if unp:
            if name in TINY_UNPARTITIONED_WINDOW:
                flags.append(f"unpartitioned-window(allowed: {TINY_UNPARTITIONED_WINDOW[name]})")
            else:
                flags.append(f"UNPARTITIONED-WINDOW x{len(unp)}")
                failures.append((name, f"unpartitioned window: {unp[0][:120]}"))
        print(
            f"ok    {name}: shuffles={rep['shuffles']} codegen={rep['codegen_spans']} "
            f"bcast={rep['broadcast_joins']} scans={len(rep['read_schemas'])}"
            + (" | " + "; ".join(flags) if flags else "")
        )
    print(f"\n{len(failures)} failures ({time.time() - t0:.0f}s)")
    for name, why in failures:
        print(f"FAIL  {name}: {why}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
