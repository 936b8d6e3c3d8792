"""lake: the six stored-index build families, then registered queries
that read what they built, over the bundled corpus.

Query results are checked against DuckDB over the same parquet files,
using the order-insensitive fingerprint of ``scripts/check_oracle.py``;
the oracle runs before the Spark session starts, outside every timed
region.
"""

from __future__ import annotations

import os
import random
import sys
import time

from common import CORPUS, ROOT, STORES, passes_for, quantile, tree_size, wipe_stores

# One or two registered queries per family, chosen so that one pass takes
# about 15 s on four cores and every stored-index family, the PII mirror
# and the Python-worker path are read by at least one of them.
LAKE_QUERIES = [
    "pricing_summary",
    "min_cost_supplier",
    "events_funnel",
    "text_tfidf_topterms",
    "docs_bm25_topk",
    "docs_pii_scrub_planted",
    "dedup_minhash_lsh_pairs",
    "knn_ivfpq",
    "embedding_cosine_dups",
    "stream_user_totals",
    "source_jsonl_events",
    "source_schema_evolution_events",
    "bucketed_join_revenue",
    "sample_stratified_documents",
    "maintenance_layout_skipping",
    "multimodal_media_features",
]

PASS_S = 14.0  # nominal seconds of one pass over LAKE_QUERIES

# name prefix -> family; anything unmatched is relational (TPC-H shaped)
FAMILIES = {
    "events_": "events",
    "text_": "text",
    "docs_": "docs",
    "dedup_": "dedup",
    "knn_": "knn",
    "embedding_": "embedding",
    "stream_": "stream",
    "source_": "source",
    "bucketed_": "source",
    "cdc_": "source",
    "sample_": "sampling",
    "maintenance_": "maintenance",
    "multimodal_": "other",
    "pipeline_": "other",
    "training_": "other",
    "asof_": "other",
}
FAMILY_NAMES = sorted(set(FAMILIES.values()) | {"relational"})


def family(name: str) -> str:
    return next((f for p, f in FAMILIES.items() if name.startswith(p)), "relational")


class Oracle:
    """DuckDB fingerprints of the registered oracle SQL for ``names``."""

    def __init__(self, names: list[str]):
        import duckdb

        import __spark_entry__ as entry
        from automotive_big_data_analysis_spark.catalog import TESTDATA_TABLES

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        import check_oracle

        self._fp = check_oracle.frame_fingerprint
        self._splits = check_oracle.dtype_splits
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{CORPUS}/{t}.parquet')"
            )
        sql = entry.oracle_sql()
        self.frames = {n: con.execute(sql[n]).fetchdf() for n in names if n in sql}
        con.close()
        self.expected = {n: self._fp(f) for n, f in self.frames.items()}

    def matches(self, name: str, pdf) -> bool:
        if name not in self.expected:
            return False
        return self._fp(pdf) == self.expected[name] and not self._splits(
            pdf, self.frames[name]
        )


class QueryRunner:
    """Runs registered queries one at a time, checking each result."""

    def __init__(self, spark, tracer, oracle: Oracle):
        import __spark_entry__ as entry

        self.spark = spark
        self.tracer = tracer
        self.oracle = oracle
        self.queries = entry.queries()
        self.attempted = 0
        self.failed = 0

    def run(self, name: str) -> float:
        tracer = self.tracer
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.op(name):
                with tracer.span("operators.build_s"):
                    df = self.queries[name](self.spark, CORPUS)
                if tracer.enabled:
                    tracer.plan_phases(df)
                with tracer.span("exec.collect_s"):
                    pdf = df.toPandas()
        except Exception as exc:  # a failed query is counted, not fatal
            self.failed += 1
            print(f"perfbench: {name} failed: {exc!r}"[:400])
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        if not self.oracle.matches(name, pdf):
            self.failed += 1
            print(f"perfbench: {name} does not match its oracle")
        return wall


# family -> (module, build entry point); LAKE_QUERIES reads every one
BUILDS = [
    ("text_mirror", "sources.text_formats", "ensure_mirrors"),
    ("bucketed_layout", "sources.bucketed", "ensure_layout"),
    ("dedup_pair_index", "operators.dedup", "build_indexes"),
    ("ann_index", "operators.similarity", "build_indexes"),
    ("layout_mirrors", "operators.maintenance", "ensure_layout_mirrors"),
    ("schema_evo_mirror", "sources.schema_evolution", "ensure_generations"),
]


def _build_all(spark) -> tuple[list[float], int, dict]:
    """Build the six stored-index families into wiped stores, timing
    each; returns the walls, the number that failed, and layer metrics."""
    import importlib

    wipe_stores()
    walls, failed, layers = [], 0, {}
    for fam, mod, fn in BUILDS:
        build = getattr(importlib.import_module(f"automotive_big_data_analysis_spark.{mod}"), fn)
        t0 = time.perf_counter()
        try:
            build(spark, CORPUS)
        except Exception as exc:  # a failed build is counted, not fatal
            failed += 1
            print(f"perfbench: build {fam} failed: {exc!r}"[:400])
        walls.append(time.perf_counter() - t0)
        layers[f"build.{fam}_s"] = walls[-1]
    n_bytes, n_files = tree_size(STORES)
    layers.update(
        {
            "stored.bytes_written": n_bytes,
            "stored.files_written": n_files,
            "stored.bytes_ratio": n_bytes / tree_size(CORPUS)[0],
        }
    )
    return walls, failed, layers


def run(spark, tracer, seed: int, seconds: float, oracle: Oracle) -> dict:
    """Build every stored index into wiped stores, then run timed passes
    over LAKE_QUERIES. Queries run in the seed's order within each family
    group, and a group's session caches are released when it ends, as
    ``bench.py`` does. As there, the first pass is timed: an artifact a
    query builds on first touch is paid inside that query. Every query
    result is checked, so the builds are checked through the queries
    that read them."""
    from automotive_big_data_analysis_spark.operators import dedup, similarity

    runner = QueryRunner(spark, tracer, oracle)
    t0 = time.perf_counter()
    spark.read.parquet(f"{CORPUS}/region.parquet").count()  # parquet reader warm-up
    warm = time.perf_counter() - t0
    b0 = time.time()
    build_walls, build_failed, layers = _build_all(spark)
    build_window = (b0, time.time())
    runner.attempted += len(BUILDS)
    runner.failed += build_failed

    rng = random.Random(seed)
    sim = [n for n in LAKE_QUERIES if family(n) in ("knn", "embedding")]
    dup = [n for n in LAKE_QUERIES if n.startswith(("dedup_", "pipeline_"))]
    plain = [n for n in LAKE_QUERIES if n not in sim and n not in dup]
    groups = [(plain, None), (sim, similarity.release), (dup, dedup.release)]
    for names, _ in groups:
        rng.shuffle(names)

    def one_pass() -> list[tuple[str, float]]:
        walls = []
        for names, release in groups:
            walls += [(n, runner.run(n)) for n in names]
            if release is not None:
                release()
        return walls

    t_begin = time.time()
    passes = [one_pass() for _ in range(passes_for(seconds, PASS_S))]
    t_end = time.time()

    layers.update({f"family.{f}_s": 0.0 for f in FAMILY_NAMES})
    for p in passes:
        for name, wall in p:
            layers[f"family.{family(name)}_s"] += wall / len(passes)
    return {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "build_s": sum(build_walls),
        "warm_s": warm,
        "ops": [op for p in passes for op in p],
        "pass_s": quantile([sum(w for _, w in p) for p in passes], 50),
        "passes": len(passes),
        "window": (t_begin, t_end),
        "build_window": build_window,
        "layers": layers,
    }
