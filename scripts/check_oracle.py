"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where an
``oracle_sql()`` entry exists, the same query on DuckDB over the identical
parquet files; compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values canonicalized).

Every derived store starts empty (:func:`fresh_stores`), so the gate
checks what this code builds, never files an earlier build left behind.

Usage: PYTHONPATH=/root/repo python scripts/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import atexit
import hashlib
import importlib
import math
import os
import shutil
import sys
import tempfile
import time

import duckdb
import pandas as pd


def canonical(value) -> str:
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return "NULL"
    if isinstance(value, float):
        if value == int(value) and abs(value) < 1e15:
            return str(int(value))
        return repr(value)
    if isinstance(value, pd.Timestamp):
        return value.isoformat()
    return str(value)


def frame_fingerprint(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    rows = sorted(
        ",".join(canonical(v) for v in rec) for rec in df[cols].itertuples(index=False)
    )
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, digest


def dtype_splits(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Column-level dtype-kind mismatches the hash canonicalization would
    mask but a stricter harness (the driver's) would not.

    The round-1..4 ``events_sessionize`` failure was exactly this class:
    DuckDB's HUGEINT windowed SUM became float64 through ``fetchdf()``
    ("11.0") while Spark emitted int64 ("11") — ``canonical()`` collapses
    integral floats so the local hash matched while the driver's did not.
    int-vs-float is the killer; int-width differences and float64 on BOTH
    sides (nullable long) are fine.
    """
    out = []
    for col in set(spark_pdf.columns) & set(duck_pdf.columns):
        sk, dk = spark_pdf[col].dtype.kind, duck_pdf[col].dtype.kind
        norm = {"u": "i"}
        if norm.get(sk, sk) != norm.get(dk, dk):
            out.append(f"{col}: spark={spark_pdf[col].dtype} oracle={duck_pdf[col].dtype}")
    return out


def fresh_stores() -> None:
    """Point every derived-store root (``stored.STORE_ROOTS``) at its own
    directory under a new temporary directory, removed at exit. Call it
    before the first query: stored artifacts carry parameter tags and
    source fingerprints in their paths, not the code that built them, so
    a default root could serve what an older build left there."""
    from automotive_big_data_analysis_spark.sources import stored

    root = tempfile.mkdtemp(prefix="fresh_stores_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    for mod, attr in stored.STORE_ROOTS:
        module = importlib.import_module(
            f".{mod}", "automotive_big_data_analysis_spark"
        )
        setattr(module, attr, os.path.join(root, attr.lower()))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from automotive_big_data_analysis_spark.catalog import TESTDATA_TABLES

    fresh_stores()
    # Deliberately a PLAIN session (no get_spark) to replicate the driver's
    # correctness harness: every query must work without any build-time conf.
    # Time-zone note: queries over `events` are zone-safe regardless of host
    # TZ — catalog.load_table normalizes the NTZ timestamp column with a
    # zone-free expression (catalog.ntz_to_instant), matching DuckDB's
    # naive-as-UTC reading. Other tables carry no timestamp columns.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("check_oracle")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        took = time.time() - t0
        if name not in oracles:
            print(f"weak  {name}: rows={len(spark_pdf)} ({took:.1f}s, no oracle)")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        sn, sc, sh = frame_fingerprint(spark_pdf)
        dn, dc, dh = frame_fingerprint(duck_pdf)
        splits = dtype_splits(spark_pdf, duck_pdf)
        if splits:
            failures.append(name)
            print(f"FAIL  {name}: dtype split (driver-visible): {splits}")
            continue
        if (sn, sc, sh) == (dn, dc, dh):
            print(f"ok    {name}: rows={sn} hash={sh} ({took:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL  {name}: spark rows={sn} cols={sc} hash={sh}")
            print(f"      oracle rows={dn} cols={dc} hash={dh}")
            if sc == dc and sn == dn:
                merged = spark_pdf[sorted(spark_pdf.columns)].merge(
                    duck_pdf[sorted(duck_pdf.columns)], how="outer", indicator=True
                )
                diff = merged[merged._merge != "both"]
                print(diff.head(6).to_string())
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
