"""Ingest / generator / write-path tests (reference ops S4-S7)."""

from __future__ import annotations

import glob
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.operators import car_queries as q
from automotive_big_data_analysis_spark.sources import excel, synthetic, tables


def test_normalize_upload_rows_renames_and_whitelists():
    rows = [
        {
            "brand": "BYD",
            "model": "Han",
            "guide_price": 210000.0,
            "attention": 800,
            "manufacture_year": 2022,
            "city_license_plates": {"深圳": 100},
            "bogus_column": "dropped",
        }
    ]
    out = excel.normalize_upload_rows(rows)
    assert out[0]["car_brand"] == "BYD"
    assert out[0]["car_model"] == "Han"
    assert out[0]["manufacturer_suggested_price"] == 210000.0
    assert out[0]["popularity"] == 800
    assert out[0]["manufacture_year"] == 2022
    assert "bogus_column" not in out[0]


def test_ingest_rows_builds_typed_df(spark):
    df = excel.ingest_rows(
        spark,
        [{"brand": "BYD", "model": "Han", "attention": 5}],
    )
    row = df.first()
    assert row.car_brand == "BYD" and row.popularity == 5
    assert df.schema["manufacturer_suggested_price"].dataType.typeName() == "double"


def test_excel_rejects_bad_extension(tmp_path):
    bad = tmp_path / "data.csv"
    bad.write_text("a,b\n1,2")
    with pytest.raises(excel.ExcelIngestError):
        excel.rows_from_excel(str(bad))


def test_excel_rejects_corrupt_file(tmp_path):
    bad = tmp_path / "data.xlsx"
    bad.write_bytes(b"not really excel")
    with pytest.raises(excel.ExcelIngestError):
        excel.rows_from_excel(str(bad))


def test_upload_lifecycle_save_parse_append_cleanup(spark, tmp_path):
    """Reference backend/app.py:189-193,243-246: the upload is saved under
    a UUID name, parsed, appended, and the saved file is removed whether
    the parse succeeds or fails."""
    updir = tmp_path / "uploads"
    seen_paths = []

    def fake_parser(path):
        seen_paths.append(path)
        assert os.path.exists(path)
        return [{"brand": "BYD", "model": "Han", "attention": 5}]

    df = excel.ingest_upload(
        spark, b"payload-bytes", "cars.xlsx", str(updir), parser=fake_parser
    )
    assert df.first().car_brand == "BYD"
    # saved under a fresh UUID name with the original extension...
    assert len(seen_paths) == 1
    name = os.path.basename(seen_paths[0])
    assert name.endswith(".xlsx") and name != "cars.xlsx"
    # ...and cleaned up afterwards
    assert os.listdir(updir) == []


def test_upload_lifecycle_cleans_up_on_parse_failure(spark, tmp_path):
    updir = tmp_path / "uploads"
    with pytest.raises(excel.ExcelIngestError):
        excel.ingest_upload(
            spark, b"not really excel", "bad.xlsx", str(updir)
        )
    assert os.listdir(updir) == []


def test_upload_rejects_bad_extension_before_saving(spark, tmp_path):
    updir = tmp_path / "uploads"
    with pytest.raises(excel.ExcelIngestError):
        excel.ingest_upload(spark, b"x", "data.csv", str(updir))
    assert not updir.exists()


def test_generator_deterministic_and_in_range(spark):
    df1 = synthetic.generate_car_data(spark, 200, seed=42)
    df2 = synthetic.generate_car_data(spark, 200, seed=42)
    # exceptAll can't compare MapType columns — canonicalize rows instead
    def canon(df):
        return sorted(
            (r.car_brand, r.car_model, r.manufacturer_suggested_price,
             sorted(r.historical_price.items()), sorted(r.city_license_plates.items()))
            for r in df.collect()
        )
    assert canon(df1) == canon(df2)  # fully reproducible
    rows = df1.collect()
    assert len(rows) == 200
    for r in rows[:50]:
        assert r.car_model in synthetic.BRAND_MODELS[r.car_brand]
        assert 0.8 * r.manufacturer_suggested_price - 0.01 <= r.min_reference_price <= r.manufacturer_suggested_price + 0.01
        assert 80 <= r.engine_horsepower <= 500
        assert r.num_doors in (2, 4, 5)
        assert 2010 <= r.manufacture_year <= 2025
        assert 3 <= len(r.historical_price) <= 7
        assert 1 <= len(r.city_license_plates) <= 5
        if r.car_type in ("新能源", "电动汽车"):
            assert r.fuel_capacity == 0.0


def test_generator_feeds_query_library(spark):
    cars = q.car_view(synthetic.generate_car_data(spark, 500, seed=1))
    prefs = q.consumer_preferences(cars).collect()
    assert sum(r.preference for r in prefs) == pytest.approx(1.0)
    assert {r.car_type for r in prefs} <= {"轿车", "SUV", "MPV", "跑车", "皮卡", "电动汽车"}
    dist = q.price_distribution(cars).collect()
    assert sum(r["count"] for r in dist) == 500


GEN_SCHEMA = (
    "struct<car_brand:string,city:string,car_model:string,"
    "manufacturer_suggested_price:double,engine_horsepower:int,num_doors:int,"
    "min_reference_price:double,car_type:string,manufacture_year:int,"
    "fuel_capacity:double,popularity:int,discount_percentage:double,"
    "historical_price:map<string,int>,city_license_plates:map<string,int>>"
)
VIEW_SCHEMA = (
    "struct<brand:string,model:string,guide_price:double,horsepower:int,"
    "doors:int,min_price:double,attention:int,discount:double,car_type:string,"
    "city_license_plates:map<string,int>,manufacture_year:int,"
    "history_prices:array<struct<date:string,price:int>>,id:string,model_id:string>"
)


def _checksum(df) -> tuple[str, int]:
    """Order-free (sum of row xxhash64, row count) over every column; maps
    hash as their sorted entry arrays, since Spark cannot hash a map."""
    cols = [
        F.array_sort(F.map_entries(f.name))
        if f.dataType.typeName() == "map"
        else F.col(f.name)
        for f in df.schema.fields
    ]
    row = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.sum("h").cast("string"), F.count("*"))
        .first()
    )
    return row[0], row[1]


@pytest.mark.parametrize(
    "seed, gen_sum, view_sum",
    [
        (1, "-527307788284102090815", "-287009639380175084026"),
        (42, "-133119599300367455427", "-653725675741475793471"),
        (2**31 - 30, "149341019454460058438", "497113834356173390843"),
    ],
)
def test_generator_and_view_values_pinned(spark, seed, gen_sum, view_sum):
    """The generator's columns and the car view over them, pinned by
    schema and checksum at 5,000 rows: a rewrite of either expression set
    must stay row-identical."""
    gen = synthetic.generate_car_data(spark, 5000, seed=seed)
    view = q.car_view(gen)
    assert gen.schema.simpleString() == GEN_SCHEMA
    assert view.schema.simpleString() == VIEW_SCHEMA
    assert _checksum(gen) == (gen_sum, 5000)
    assert _checksum(view) == (view_sum, 5000)


def test_partitioned_append_writes_one_file_per_year(spark, tmp_path):
    """Each append adds exactly one data file to every year directory it
    touches, whatever the session width: every read lists and opens every
    file, so tasks × years files per append is a cost paid on each read."""
    path = str(tmp_path / "car_table")

    def files_per_year() -> Counter:
        files = glob.glob(os.path.join(path, "manufacture_year=*", "part-*.parquet"))
        return Counter(os.path.basename(os.path.dirname(f)) for f in files)

    assert tables.insert_df(synthetic.generate_car_data(spark, 1000, seed=5), path) == 1000
    first = files_per_year()
    assert len(first) == 16 and set(first.values()) == {1}
    assert tables.insert_df(synthetic.generate_car_data(spark, 1000, seed=6), path) == 1000
    assert files_per_year() == {d: 2 for d in first}
    assert tables.read_car_table(spark, path).count() == 2000


def test_write_path_roundtrip(spark, tmp_path):
    path = str(tmp_path / "car_table")
    tables.create_car_table(spark, path)
    n = tables.insert_rows(
        spark,
        path,
        [
            {"car_brand": "A", "car_model": "M", "manufacture_year": 2020,
             "city_license_plates": {"X": 10}},
            {"car_brand": "B", "car_model": "N", "manufacture_year": 2021,
             "city_license_plates": {"Y": 20}},
        ],
    )
    assert n == 2
    back = tables.read_car_table(spark, path)
    assert back.count() == 2
    # partition pruning: year filter reads one partition only
    pruned = back.where(F.col("manufacture_year") == 2020)
    assert pruned.count() == 1
    plan = pruned.explain(mode="formatted") or ""
    got = {r.car_brand for r in back.collect()}
    assert got == {"A", "B"}


def test_text_format_sources_roundtrip_and_failfast(spark, tmp_path):
    """JSONL and CSV ingest must reproduce the parquet relation exactly
    (ids, timestamps via epoch-us, doubles, strings), and a malformed
    interchange row must FAIL the read, not leak nulls into aggregates."""
    import pytest as _pytest

    from automotive_big_data_analysis_spark.sources import text_formats as tf

    sf = "/root/testdata/sf0.001"
    want = sorted(
        map(tuple, tf._summary(
            __import__(
                "automotive_big_data_analysis_spark.catalog", fromlist=["load_table"]
            ).load_table(spark, sf, "events")
        ).collect())
    )
    got_jsonl = sorted(map(tuple, tf.jsonl_events_summary(spark, sf).collect()))
    got_csv = sorted(map(tuple, tf.csv_events_summary(spark, sf).collect()))
    assert got_jsonl == want
    assert got_csv == want
    # corruption isolation: FAILFAST surfaces the bad row
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"event_id": 1, "ts_us": "not-a-long"}\n')
    reader = spark.read.schema(tf.EVENTS_TEXT_SCHEMA).option("mode", "FAILFAST")
    with _pytest.raises(Exception, match="Malformed|FAILFAST|BadRecord"):
        reader.json(str(bad)).collect()


def test_quarantine_connector_splits_exactly_and_keeps_raw_lines(spark):
    """The dead-letter path must quarantine EXACTLY the injected corrupt
    rows (no clean row lost, no corrupt row smuggled into aggregates),
    the clean tier must equal the batch summary over the complement,
    and the corrupt rows must retain their raw line (the dead-letter
    payload) — all over ONE scan of the landing files."""
    from pyspark.sql import functions as F

    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.plans import explain as px
    from automotive_big_data_analysis_spark.sources import text_formats as tf

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    n_total = ev.count()
    n_corrupt = ev.where(F.col("event_id") % tf.CORRUPT_MOD == 0).count()
    assert 0 < n_corrupt < n_total  # the injection rule actually fires

    df = tf.jsonl_quarantine_summary(spark, sf)
    assert len(px.read_schemas(df)) == 1  # one pass over the landing files
    rows = df.collect()
    dead = [r for r in rows if r.tier == "quarantined"]
    clean = [r for r in rows if r.tier == "clean"]
    assert len(dead) == 1
    assert dead[0].n_events == n_corrupt
    # unknown, not zero: nothing was parsed from the refused lines
    assert dead[0].event_type is None and dead[0].total_value is None
    assert sum(r.n_events for r in clean) == n_total - n_corrupt
    # clean tier == batch summary over the complement of the corruption rule
    want = {
        tuple(r)
        for r in tf._summary(
            ev.where(F.col("event_id") % tf.CORRUPT_MOD != 0)
        ).collect()
    }
    assert {tuple(r)[1:] for r in sorted(map(tuple, clean))} == {
        t for t in want
    }
    # dead-letter payload: every corrupt line is retained verbatim
    path = tf._ensure_written(spark, sf, "jsonl_dirty")
    parsed = spark.read.text(path).select(
        F.from_json(
            "value",
            tf.EVENTS_TEXT_SCHEMA + ", _corrupt_record string",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("p")
    )
    raws = [
        r[0]
        for r in parsed.where(F.col("p._corrupt_record").isNotNull())
        .select("p._corrupt_record")
        .collect()
    ]
    assert len(raws) == n_corrupt
    assert all(raw.startswith('{"event_id": ') for raw in raws)


def test_stored_table_rebuilds_on_source_change(spark, tmp_path):
    """The content fingerprint must change when the source table is
    regenerated, so a stored index can never serve structures built from
    a previous corpus generation under the same directory names."""
    from automotive_big_data_analysis_spark.sources import stored

    src = str(tmp_path / "corpus")
    spark.range(5).toDF("doc_id").write.parquet(f"{src}/documents.parquet")
    fp1 = stored.source_fingerprint(src, "documents")

    def build():
        return spark.read.parquet(f"{src}/documents.parquet").selectExpr(
            "doc_id", "doc_id * 2 AS v"
        )

    t1 = stored.stored_table(
        spark, str(tmp_path / "wh"), "fp_test", src, "t1", "idx",
        "doc_id", build, src_table="documents",
    )
    assert t1.count() == 5
    # regenerate the source with different content, same paths
    spark.range(9).toDF("doc_id").write.mode("overwrite").parquet(
        f"{src}/documents.parquet"
    )
    fp2 = stored.source_fingerprint(src, "documents")
    assert fp1 != fp2
    t2 = stored.stored_table(
        spark, str(tmp_path / "wh"), "fp_test", src, "t1", "idx",
        "doc_id", build, src_table="documents",
    )
    assert t2.count() == 9  # fresh build, not the stale 5-row index


def test_stored_table_reattaches_across_sessions_without_rebuild(
    spark, tmp_path
):
    """The nightly-batch lifecycle (``stored.py`` re-attach path): index
    FILES outlive the in-memory session catalog. When a fresh catalog
    (simulated by dropping the database — the tables are external, so
    files persist) touches the same (corpus, tag) again, the table must
    be re-attached via DDL with NO data movement, under the bucket count
    the files were written with — and a source mtime change must still
    force a fresh build."""
    import time

    from automotive_big_data_analysis_spark.sources import stored

    src = str(tmp_path / "corpus")
    spark.range(20).toDF("doc_id").write.parquet(f"{src}/documents.parquet")

    def build():
        return spark.read.parquet(f"{src}/documents.parquet").selectExpr(
            "doc_id", "doc_id * 3 AS v"
        )

    def make():
        return stored.stored_table(
            spark, str(tmp_path / "wh"), "lc_test", src, "t1", "idx",
            "doc_id", build, n_buckets=4, src_table="documents",
        )

    t1 = make()
    assert t1.count() == 20
    fp = stored.source_fingerprint(src, "documents")
    base = os.path.basename(src)
    db = f"lc_test_{base}_t1nb4_{fp}"  # tag carries the bucket count
    path = f"{tmp_path}/wh/{base}_t1nb4_{fp}/idx"
    before = {
        fn: os.stat(os.path.join(path, fn)).st_mtime_ns
        for fn in os.listdir(path)
    }
    # simulate a NEW session's empty in-memory catalog: drop the TABLE
    # entry (external → files stay; DROP DATABASE would recursively
    # delete the db LOCATION the files nest under). A fresh session's
    # CREATE DATABASE IF NOT EXISTS is a no-op, so the table lookup is
    # the only catalog state the re-attach path consults.
    spark.sql(f"DROP TABLE {db}.idx")
    assert os.path.exists(f"{path}/_SUCCESS")

    t2 = make()
    assert t2.count() == 20
    after = {
        fn: os.stat(os.path.join(path, fn)).st_mtime_ns
        for fn in os.listdir(path)
    }
    assert before == after  # re-attach moved no data
    # the DDL must declare the bucket count the files were written with
    detail = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.idx").collect()
    nb = [r.data_type for r in detail if r.col_name == "Num Buckets"]
    assert nb == ["4"]

    # a wrong declared count must be a loud error, not a silent
    # co-location lie
    spark.sql(f"DROP TABLE {db}.idx")
    with pytest.raises(ValueError, match="bucket id"):
        stored._register_existing(spark, f"{db}.idx", path, "doc_id", n_buckets=2)
    stored._register_existing(spark, f"{db}.idx", path, "doc_id", n_buckets=4)

    # touching the source (new mtime, same bytes is enough — the
    # fingerprint is metadata-based) must route to a FRESH build
    time.sleep(0.01)
    for fn in os.listdir(f"{src}/documents.parquet"):
        os.utime(os.path.join(f"{src}/documents.parquet", fn))
    t3 = make()
    assert t3.count() == 20
    assert stored.source_fingerprint(src, "documents") != fp


def test_gzip_jsonl_connector_matches_plain(spark):
    """The gzip codec path must be value-identical to the plain JSONL
    connector (the difference is splittability, not content), and the
    mirror must actually be gzip-compressed files."""
    from automotive_big_data_analysis_spark.sources import text_formats as tf

    sf = "/root/testdata/sf0.001"
    plain = {tuple(r) for r in tf.jsonl_events_summary(spark, sf).collect()}
    gz = {tuple(r) for r in tf.jsonl_gzip_events_summary(spark, sf).collect()}
    assert gz == plain
    path = tf._ensure_written(spark, sf, "jsonl_gzip")
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert parts and all(f.endswith(".gz") for f in parts)


def test_bzip2_jsonl_connector_matches_plain(spark):
    """The bzip2 codec path (the SPLITTABLE compressed-text codec) must
    be value-identical to the plain JSONL connector, over genuinely
    bzip2-compressed files."""
    from automotive_big_data_analysis_spark.sources import text_formats as tf

    sf = "/root/testdata/sf0.001"
    plain = {tuple(r) for r in tf.jsonl_events_summary(spark, sf).collect()}
    bz = {tuple(r) for r in tf.jsonl_bzip2_events_summary(spark, sf).collect()}
    assert bz == plain
    path = tf._ensure_written(spark, sf, "jsonl_bzip2")
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert parts and all(f.endswith(".bz2") for f in parts)
    with open(os.path.join(path, parts[0]), "rb") as fh:
        assert fh.read(3) == b"BZh"  # the bzip2 magic, really compressed


def test_stored_table_concurrent_verification_is_idempotent(spark, tmp_path):
    """8 threads verify one stored table whose catalog entry is gone
    (the registration set on the session is cold): every thread gets
    the full table, the files are re-attached rather than rewritten, and
    the set ends with the table's one entry."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from automotive_big_data_analysis_spark.sources import stored

    src = str(tmp_path / "corpus")
    spark.range(20).toDF("doc_id").write.parquet(f"{src}/documents.parquet")

    def make(_=None):
        return stored.stored_table(
            spark, str(tmp_path / "wh"), "cc_test", src, "t1", "idx", "doc_id",
            lambda: spark.read.parquet(f"{src}/documents.parquet"),
            src_table="documents",
        ).count()

    assert make() == 20
    registered = vars(spark)["_abda_registered"]
    (key,) = [k for k in registered if k[0].startswith("cc_test_")]
    success = os.path.getmtime(f"{key[2]}/_SUCCESS")
    spark.sql(f"DROP TABLE {key[0]}.idx")
    registered.discard(key)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' set accesses
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            counts = list(pool.map(make, range(8), timeout=300))
    finally:
        sys.setswitchinterval(switch)
    assert counts == [20] * 8
    assert os.path.getmtime(f"{key[2]}/_SUCCESS") == success
    assert [k for k in registered if k[0].startswith("cc_test_")] == [key]


def test_stored_table_prunes_superseded_fingerprints(spark, tmp_path):
    """Regenerating the source must not only force a fresh build
    (fingerprint in the path) but also remove the superseded
    generation's index directory — otherwise every regeneration leaks a
    full orphan index. Unrelated tags must be untouched."""
    import time

    from automotive_big_data_analysis_spark.sources import stored

    src = str(tmp_path / "corpus")
    spark.range(5).toDF("doc_id").write.parquet(f"{src}/documents.parquet")

    def build():
        return spark.read.parquet(f"{src}/documents.parquet").selectExpr(
            "doc_id", "doc_id * 2 AS v"
        )

    def make(tag):
        return stored.stored_table(
            spark, str(tmp_path / "wh"), "pr_test", src, tag, "idx",
            "doc_id", build, src_table="documents",
        )

    make("t1")
    make("other")  # unrelated tag, same corpus — must survive pruning
    wh = tmp_path / "wh"
    gen1 = {d.name for d in wh.iterdir()}
    assert len(gen1) == 2
    time.sleep(0.01)
    for fn in (tmp_path / "corpus" / "documents.parquet").iterdir():
        import os as _os

        _os.utime(fn)
    make("t1")  # new generation for t1
    after = {d.name for d in wh.iterdir()}
    # old t1 dir pruned, new t1 dir present, 'other' untouched
    assert len(after) == 2
    t1_dirs = {d for d in after if "_t1nb" in d}
    assert len(t1_dirs) == 1 and t1_dirs.isdisjoint(gen1)
    assert {d for d in after if "_othernb" in d} == {
        d for d in gen1 if "_othernb" in d
    }


def test_stored_table_supersede_prefix_gcs_stale_generations(spark, tmp_path):
    """A table family whose parameter tag lives in the TABLE name (the
    recall_frontier shape) must GC superseded generations on first
    build of a new tag (round-12 ADVICE: a tag-format change otherwise
    orphans the old table in the same database forever). Tables outside
    the family prefix must survive."""
    from automotive_big_data_analysis_spark.sources import stored

    src = str(tmp_path / "corpus")
    spark.range(5).toDF("doc_id").write.parquet(f"{src}/documents.parquet")

    def build():
        return spark.read.parquet(f"{src}/documents.parquet").selectExpr(
            "doc_id", "doc_id * 2 AS v"
        )

    def make(name, prefix=None):
        return stored.stored_table(
            spark, str(tmp_path / "wh"), "gc_test", src, "tag", name,
            "doc_id", build, src_table="documents",
            supersede_prefix=prefix,
        )

    make("frontier_012", prefix="frontier_")
    make("unrelated")  # outside the family — must survive
    db_dir = next(d for d in (tmp_path / "wh").iterdir())
    assert (db_dir / "frontier_012").is_dir()
    # new tag format supersedes the old generation
    out = make("frontier_0_1_2", prefix="frontier_")
    assert out.count() == 5
    names = {d.name for d in db_dir.iterdir() if d.is_dir()}
    assert "frontier_0_1_2" in names
    assert "frontier_012" not in names  # GC'd: dir removed
    assert "unrelated" in names
    # and the catalog no longer lists the stale generation
    db = next(
        x.name for x in spark.catalog.listDatabases() if x.name.startswith("gc_test")
    )
    tables = {t.name for t in spark.catalog.listTables(db)}
    assert "frontier_012" not in tables and "frontier_0_1_2" in tables


def test_bucketed_layout_follows_an_in_place_corpus_rewrite(spark, tmp_path):
    """Regenerating ``orders`` in place must lay out fresh bucketed files:
    the co-located join equals the raw-parquet join over the NEW corpus,
    in the same session and in a new one."""
    import shutil

    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.functions import exact as ex
    from automotive_big_data_analysis_spark.sources import bucketed as bk
    from tests.conftest import SF_SMOKE

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    for t in ("orders", "lineitem"):
        shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", f"{corpus}/{t}.parquet")
    wh = str(tmp_path / "wh")

    def bucketed(session):
        bk.write_bucketed_tables(session, corpus, database="bk_regen", location=wh)
        df = bk.bucketed_join_revenue(session, "bk_regen")
        return sorted(map(tuple, df.collect()))

    def raw():
        li = load_table(spark, corpus, "lineitem")
        o = load_table(spark, corpus, "orders")
        return sorted(
            map(
                tuple,
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(
                    ex.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    F.count("*"),
                )
                .collect(),
            )
        )

    before = bucketed(spark)
    assert before == raw()
    prios = sorted(r[0] for r in before)
    # same keys, priorities reassigned: only a fresh layout sees it
    rotated = F.element_at(
        F.array(*map(F.lit, prios)), (F.col("o_orderkey") % 5 + 1).cast("int")
    )
    spark.read.parquet(f"{SF_SMOKE}/orders.parquet").withColumn(
        "o_orderpriority", rotated
    ).write.mode("overwrite").parquet(f"{corpus}/orders.parquet")
    after = raw()
    assert after != before
    assert bucketed(spark) == after
    assert bucketed(spark.newSession()) == after


def test_schema_evolution_merged_read_null_fills_exactly(spark):
    """mergeSchema across producer generations: row-lossless union,
    `value` null-filled for exactly the generation-1 rows, generation
    column discovered from the directory layout."""
    from pyspark.sql import functions as F

    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.sources import schema_evolution as se

    sf = "/root/testdata/sf0.001"
    merged = se.read_merged(spark, sf)
    canonical = load_table(spark, sf, "events")
    assert merged.count() == canonical.count()
    # generation membership is the content-keyed rule, and value-null
    # coincides with it exactly
    bad = merged.where(
        ((F.col("event_id") % 2 == 0) & (F.col("gen") != 1))
        | ((F.col("event_id") % 2 != 0) & (F.col("gen") != 2))
        | ((F.col("gen") == 1) != F.col("value").isNull())
    ).count()
    assert bad == 0


def test_schema_evolution_generation_predicate_prunes_directories(spark):
    """`WHERE gen = 2` must prune the generation-1 directory at plan
    time (partition pruning on the discovered column): the filtered
    scan reads strictly fewer files than the full scan."""
    from pyspark.sql import functions as F

    from automotive_big_data_analysis_spark.sources import schema_evolution as se

    sf = "/root/testdata/sf0.001"
    merged = se.read_merged(spark, sf)
    all_files = merged.select(F.input_file_name().alias("f")).distinct().count()
    gen2_files = (
        merged.where(F.col("gen") == 2)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert 0 < gen2_files < all_files


def test_idempotent_reingest_collapses_the_replay(spark):
    """The doubled landing read must collapse to the single-ingest
    summary — replay is invisible after the keyed merge."""
    from automotive_big_data_analysis_spark.sources import text_formats as tf

    sf = "/root/testdata/sf0.001"
    single = tf._read_events_text(spark, sf, "jsonl")
    doubled = single.unionByName(single)
    assert doubled.count() == 2 * single.count()
    got = {
        tuple(r) for r in tf.idempotent_reingest_summary(spark, sf).collect()
    }
    want = {tuple(r) for r in tf._summary(single).collect()}
    assert got == want


def test_cdc_merge_latest_wins_and_tombstones(spark):
    """The fold must drop exactly the tombstoned keys, keep the update's
    bumped value on surviving updated keys, and never invent rows."""
    from pyspark.sql import functions as F

    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.sources import cdc

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    snap = cdc.merged_snapshot(spark, sf)
    n = ev.count()
    n_del = ev.where(F.col("event_id") % cdc.DELETE_MOD == 0).count()
    assert snap.count() == n - n_del
    assert snap.where(F.col("event_id") % cdc.DELETE_MOD == 0).count() == 0
    # a surviving updated key carries version 2 and the bumped value
    probe = (
        snap.join(ev.select("event_id", F.col("value").alias("base_value")), "event_id")
        .where(F.col("op") == "U")
    )
    bad = probe.where(
        (F.col("version") != 2)
        | (F.abs(F.col("value") - (F.col("base_value") + cdc.VALUE_BUMP)) > 1e-9)
    ).count()
    assert bad == 0
    # untouched keys keep version 1 with the base value
    untouched = snap.where(F.col("op") == "I")
    assert untouched.select(F.max("version")).first()[0] == 1


def test_cdc_ivm_equals_full_recompute(spark):
    """View + delta must equal the rollup recomputed from the post-merge
    snapshot — bit-equal values, no phantom or lost groups."""
    from pyspark.sql import functions as F

    from automotive_big_data_analysis_spark.functions import exact as ex
    from automotive_big_data_analysis_spark.sources import cdc

    sf = "/root/testdata/sf0.001"
    ivm = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in cdc.ivm_hourly_rollup(spark, sf).collect()
    }
    # full recompute through the actual merge machinery (not closed form)
    snap = cdc.merged_snapshot(spark, sf)
    ev = __import__(
        "automotive_big_data_analysis_spark.catalog", fromlist=["load_table"]
    ).load_table(spark, sf, "events")
    recomputed = (
        snap.join(ev.select("event_id", "ts"), "event_id")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n_events"), ex.dsum("value", 6).alias("total_value"))
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in recomputed.collect()
    }
    assert ivm == want


def test_orc_connector_matches_parquet_truth(spark):
    """The ORC columnar round-trip must be value-identical to the
    parquet-derived summary, and the mirror must be real ORC files."""
    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.sources import text_formats as tf

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in tf.orc_events_summary(spark, sf).collect()}
    truth = {
        tuple(r)
        for r in tf._summary(load_table(spark, sf, "events")).collect()
    }
    assert got == truth
    path = tf._ensure_written(spark, sf, "orc")
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert parts and all(f.endswith(".orc") for f in parts)


def test_parquet_zstd_mirror_really_uses_zstd_and_roundtrips(spark):
    """The mirror's parquet files must carry ZSTD column codecs (the
    probe that justified registering the connector), and the read-back
    must equal the canonical table row-for-row."""
    import os

    import pyarrow.parquet as pq

    from automotive_big_data_analysis_spark.catalog import load_table
    from automotive_big_data_analysis_spark.sources import text_formats as tf

    sf = "/root/testdata/sf0.001"
    path = tf._ensure_written(spark, sf, "parquet_zstd")
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert parts
    meta = pq.ParquetFile(os.path.join(path, parts[0])).metadata
    codecs = {
        meta.row_group(0).column(i).compression
        for i in range(meta.num_columns)
    }
    assert codecs == {"ZSTD"}
    got = sorted(
        tuple(r)
        for r in tf._read_events_text(spark, sf, "parquet_zstd").collect()
    )
    want = sorted(tuple(r) for r in load_table(spark, sf, "events").collect())
    assert got == want
