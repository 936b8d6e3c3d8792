"""The derived-data lifecycle: everything built once per corpus snapshot
and persisted, so every consumer reads FILES.

Three pieces, one freshness rule — an artifact's path carries
``source_fingerprint`` of the corpus table it derives from, so a
regenerated corpus in the same directory is never served from files
built over the previous one:

* :func:`mirror` — a derived file set (interchange mirrors, maintenance
  layouts, planted corpora) at ``{location}/{corpus}/{family}_{fp}``,
  complete once ``_SUCCESS`` exists there.
* :func:`stored_table` / :func:`ensure_bucketed_table` — bucketed+sorted
  catalog tables (index structures, the orders⋈lineitem layout). The
  parameter tag and bucket count are part of the path too, so changed
  semantics build FRESH files instead of reusing old ones; files that
  outlive the in-memory catalog (a NEW session) are re-attached by
  CLUSTERED BY DDL with no data movement.
* :func:`prune_superseded` — a new generation removes the superseded
  siblings of its family; :func:`gc_stale_generations` is the standalone
  sweep for generations orphaned without a rebuild.

Concurrency: pool threads share one session. The registration set lives
on the session object (``vars(spark)``, dropped with the session) and is
keyed by (database, table, path); its membership test, ``add`` and
``discard`` are each atomic under the GIL, so no lock is needed. Two
threads that miss at once both verify, and a duplicate verification only
repeats idempotent DDL (``CREATE ... IF NOT EXISTS``). Concurrent FIRST
builds of the same artifact are not deduplicated: the build pools give
each thread disjoint artifacts.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 8


def corpus_name(sf_dir: str) -> str:
    """The corpus directory's basename as a path/database-safe token."""
    return os.path.basename(sf_dir.rstrip("/")).replace(".", "_")


def source_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap content fingerprint of a source table: a hash of every file's
    (relative name, size, mtime). An artifact path carrying this can never
    serve structures built from a PREVIOUS corpus generation that reused
    the same directory names. Metadata-only: no data is read."""
    import hashlib

    path = f"{sf_dir}/{table}.parquet"
    parts = []
    if os.path.isdir(path):
        for fn in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, fn))
            parts.append(f"{fn}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def prune_superseded(parent: str, prefix: str, keep: str) -> None:
    """Remove every directory in ``parent`` whose name starts with
    ``prefix``, except ``keep`` — the superseded generations of one
    artifact family. Nothing outside the prefix is touched."""
    if not os.path.isdir(parent):
        return
    for d in os.listdir(parent):
        stale = os.path.join(parent, d)
        if d.startswith(prefix) and d != keep and os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)


def mirror(
    location: str,
    sf_dir: str,
    src_table: str,
    family: str,
    write: Callable[[str], None],
) -> str:
    """Return the path of ``family``'s mirror of ``src_table``, calling
    ``write(path)`` once per corpus snapshot to produce it.

    ``family`` ends in ``_v<version>`` (bump it when the layout changes);
    the path is ``{location}/{corpus}/{family}_{fingerprint}``. Before
    writing, the family's superseded versions and fingerprints are
    pruned. ``write`` must leave ``{path}/_SUCCESS`` last: the mirror
    counts as complete once that marker exists."""
    parent = f"{location}/{corpus_name(sf_dir)}"
    name = f"{family}_{source_fingerprint(sf_dir, src_table)}"
    path = f"{parent}/{name}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        prune_superseded(parent, family[: family.rindex("_v") + 2], keep=name)
        write(path)
    return path


def scan_generations(location: str, corpus_prefix: str) -> list[dict]:
    """One dict per on-disk index GENERATION (database directory) under
    ``location`` belonging to ``corpus_prefix``: its base name, the
    table directories it contains, and the bytes it holds. Driver-side
    metadata walk (``os.stat`` only); no data files are opened. This is
    the inventory half of the warehouse GC an index fleet runs per
    corpus snapshot: the parameter-tagged path scheme guarantees a
    SUPERSEDED tag is never read again, so every generation that is not
    the live base is pure disk leak."""
    out: list[dict] = []
    if not os.path.isdir(location):
        return out
    for d in sorted(os.listdir(location)):
        base = os.path.join(location, d)
        if not d.startswith(corpus_prefix) or not os.path.isdir(base):
            continue
        tables = sorted(
            t
            for t in os.listdir(base)
            if os.path.isdir(os.path.join(base, t))
        )
        n_bytes = 0
        for root, _dirs, files in os.walk(base):
            for fn in files:
                n_bytes += os.stat(os.path.join(root, fn)).st_size
        out.append({"base": d, "tables": tables, "bytes": n_bytes})
    return out


def gc_stale_generations(
    location: str,
    corpus_prefix: str,
    keep_bases: set[str],
    remove: bool = False,
) -> list[dict]:
    """Classify every generation of ``corpus_prefix`` under ``location``
    as live (its base is in ``keep_bases``) or stale, and — with
    ``remove`` — reclaim the stale ones from disk. Returns the
    pre-removal inventory with ``live``/``removed`` flags. Only
    directories owned by this corpus prefix are ever touched. The
    complement of the build-time :func:`prune_superseded` (which only
    fires when a NEW generation is built): this is the standalone
    nightly sweep that reclaims generations orphaned by parameter-tag
    changes with no rebuild in between."""
    gens = scan_generations(location, corpus_prefix)
    for g in gens:
        g["live"] = g["base"] in keep_bases
        g["removed"] = False
        if remove and not g["live"]:
            shutil.rmtree(os.path.join(location, g["base"]), ignore_errors=True)
            g["removed"] = True
    return gens


def _register_existing(
    spark: SparkSession, table: str, path: str, key: str, n_buckets: int
) -> None:
    """Attach already-written bucket files as an external bucketed table.

    The session catalog is in-memory, so a new session forgets the table
    even though the files (and their bucket-id filenames) persist. The
    CLUSTERED BY DDL re-declares the layout over the existing LOCATION —
    no data movement, and scans regain the no-shuffle bucket guarantee.
    The column list comes from the files' own footers.

    ``n_buckets`` MUST match the count the files were written with: the
    DDL is a declaration Spark trusts (co-location guarantees for
    sort-merge joins ride on it), so a mismatch would silently mis-route
    bucket pruning. The filename check below makes a wrong declaration a
    loud error instead."""
    import re

    # bucketed part files are named part-...._00007.c000... — the
    # trailing _NNNNN group is the bucket id. Assert the declared count
    # strictly exceeds every observed id (ids are 0-based).
    ids = [
        int(m.group(1))
        for fn in os.listdir(path)
        if (m := re.search(r"_(\d{5})(?:\.|$)", fn)) and fn.startswith("part-")
    ]
    if ids and max(ids) >= n_buckets:
        raise ValueError(
            f"bucket files at {path} carry bucket id {max(ids)} but the "
            f"re-attach DDL declares only {n_buckets} buckets"
        )
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING PARQUET"
        f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS"
        f" LOCATION '{path}'"
    )


def _catalog_path(spark: SparkSession, table: str) -> str:
    """The local path the catalog maps ``table`` to."""
    (row,) = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .where("col_name = 'Location'")
        .collect()
    )
    return unquote(urlparse(row.data_type).path)


def ensure_bucketed_table(
    spark: SparkSession,
    db: str,
    name: str,
    path: str,
    bucket_col: str,
    build: Callable[[], DataFrame],
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Return ``db.name``, backed by the bucketed files at ``path``: the
    one register-or-write step. Files already complete there are
    re-attached; otherwise ``build()`` is written bucketed+sorted by
    ``bucket_col``. A table the catalog still maps to another path (a
    superseded generation) or to files that vanished is dropped first.

    Once verified, the (db, name, path) triple joins the session's
    registration set and later calls skip the catalog round-trips
    (CREATE DATABASE, the location check) — an ``os.stat`` of the
    ``_SUCCESS`` marker still catches files wiped from disk."""
    registered = vars(spark).setdefault("_abda_registered", set())
    key = (db, name, path)
    table = f"{db}.{name}"
    complete = os.path.exists(f"{path}/_SUCCESS")
    if key in registered and complete:
        try:
            return spark.table(table)
        except AnalysisException:
            pass  # the catalog forgot the table: re-attach below
    registered.discard(key)
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{os.path.dirname(path)}'"
    )
    exists = spark.catalog.tableExists(table)
    if exists and not (
        complete and _catalog_path(spark, table) == os.path.abspath(path)
    ):
        spark.sql(f"DROP TABLE {table}")
        exists = False
    if not exists:
        if complete:
            _register_existing(spark, table, path, bucket_col, n_buckets)
        else:
            build().write.bucketBy(n_buckets, bucket_col).sortBy(
                bucket_col
            ).option("path", path).mode("overwrite").saveAsTable(table)
    registered.add(key)
    return spark.table(table)


def stored_table(
    spark: SparkSession,
    location: str,
    db_prefix: str,
    sf_dir: str,
    tag: str,
    name: str,
    bucket_col: str,
    build: Callable[[], DataFrame],
    n_buckets: int = DEFAULT_BUCKETS,
    src_table: str | None = None,
    supersede_prefix: str | None = None,
) -> DataFrame:
    """Return the stored table ``name`` for (corpus, tag), building it
    write-through from ``build()`` on first touch. Pass ``src_table``
    (the corpus table the structure derives from) to fold its content
    fingerprint into the path — regenerated source data then forces a
    fresh build, and the superseded fingerprints' generations of this
    (corpus, tag) are pruned.

    ``supersede_prefix`` marks ``name`` as the SOLE live generation of a
    table family whose name embeds its own parameter tag (e.g.
    ``recall_frontier_<frontier-tag>``): on first build of a new tag,
    sibling tables in the same database that share the prefix are
    dropped and their files removed — a tag-format change would
    otherwise orphan the old generation forever."""
    # the bucket count shapes the physical layout exactly like any
    # semantic parameter: in the path, a changed count builds a fresh
    # layout instead of re-attaching old files under a wrong declaration
    stem = f"{corpus_name(sf_dir)}_{tag}nb{n_buckets}"
    base = f"{stem}_{source_fingerprint(sf_dir, src_table)}" if src_table else stem
    db = f"{db_prefix}_{base}"
    path = f"{location}/{base}/{name}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        if src_table:
            prune_superseded(location, f"{stem}_", keep=base)
        if supersede_prefix:
            if spark.catalog.databaseExists(db):
                for t in spark.catalog.listTables(db):
                    if t.name.startswith(supersede_prefix) and t.name != name:
                        spark.sql(f"DROP TABLE IF EXISTS {db}.{t.name}")
            prune_superseded(f"{location}/{base}", supersede_prefix, keep=name)
    return ensure_bucketed_table(
        spark, db, name, path, bucket_col, build, n_buckets
    )
