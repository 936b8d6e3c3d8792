"""Twin agreement: every shared kernel in ``functions/`` and its DuckDB
twin (``*_sql``) return equal values on the same inputs.

The oracles replay each query through the twins, so a twin that drifts
from its Spark kernel shows up here on a handful of rows instead of as a
hash mismatch over a whole query. Modelled on ``test_exact.py``: build
the rows once, evaluate the Spark column and the DuckDB expression over
them, compare row by row.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.functions import hashing
from automotive_big_data_analysis_spark.functions import text as tx
from automotive_big_data_analysis_spark.functions import vectors as V

KEYS = ["", "doc:42", "abc", "Ünïcödé ñ", "北京市 上海", "🚗 car", "a'b"]
INTS = [0, 1, 42, -7, 123456789012]

# Empty, whitespace-only, one token, CJK, stopword-rich English and
# Spanish, markup with every decoded entity, PII shapes, and the vertical
# tab (whitespace to Java's ``\s``, not to RE2's).
TEXTS = [
    "",
    "   ",
    " \t\n ",
    "one",
    "中文文本没有空格但是很长的一句话",
    "北京 上海 广州 深圳",
    "the cat and the dog ran to the park in the rain for a walk "
    "it is a fine day of the year and the sun is out",
    "el perro y la casa de los amigos en la playa es un lugar",
    "<p>Tom &amp; Jerry &lt;3 &quot;quoted&quot; it&#39;s</p>  <br/>done",
    "mail bob.smith@example.com or call +1 (555) 123-4567 from 10.0.0.12",
    "Hello, world! 42 apples; x-ray v2.0",
    "tab\x0bseparated\x0bwords, x\x0b-y; call 555\x0b123\x0b4567 now",
]


def _duck(select: str, **cols) -> list:
    """``select`` evaluated by DuckDB over a table ``t`` whose columns are
    the given equal-length Python lists, in row order. DECIMAL results
    come back as floats, as the oracle harness's ``fetchdf`` reads them."""
    con = duckdb.connect()
    names = list(cols)
    unnests = ", ".join(f"UNNEST(${i + 1}) AS {n}" for i, n in enumerate(names))
    con.execute(f"CREATE TABLE t AS SELECT {unnests}", [cols[n] for n in names])
    out = [r[0] for r in con.execute(f"SELECT {select} FROM t").fetchall()]
    return [float(v) if isinstance(v, Decimal) else v for v in out]


def _spark(spark, col, schema: str, **cols) -> list:
    """``col`` evaluated by Spark over the same rows, in row order."""
    rows = list(zip(range(len(next(iter(cols.values())))), *cols.values()))
    df = spark.createDataFrame(rows, f"rid int, {schema}").repartition(3)
    return [r.v for r in df.select("rid", col.alias("v")).orderBy("rid").collect()]


@pytest.mark.parametrize("n, salt", [(1000, ""), (256, "cms3:"), (4096, "b0:")])
def test_bucket_twin_on_string_keys(spark, n, salt):
    got = _spark(spark, hashing.bucket(F.col("k"), n, salt), "k string", k=KEYS)
    want = _duck(hashing.bucket_sql("k", n, salt), k=KEYS)
    assert got == want
    assert all(0 <= b < n for b in got)


def test_salted_bucket_twin_casts_integer_keys(spark):
    got = _spark(spark, hashing.bucket(F.col("i"), 4096, "b1:"), "i long", i=INTS)
    want = _duck(hashing.bucket_sql("i", 4096, "b1:"), i=INTS)
    assert got == want


@pytest.mark.parametrize("salt", ["", "c"])
def test_minhash_twin(spark, salt):
    groups = [0, 0, 0, 1, 1, 2, 2, 2, 2, 3]
    vals = ["a b", "b c", "北京 上海", "x", "Ünï", "", "a'b c", "z", "🚗", "q"]
    rows = list(zip(groups, vals))
    df = spark.createDataFrame(rows, "g int, s string").repartition(4)
    aggs = hashing.minhash("s", 4, salt)
    got = sorted(tuple(r) for r in df.groupBy("g").agg(*aggs).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT UNNEST(?) AS g, UNNEST(?) AS s", [groups, vals]
    )
    want = sorted(
        con.execute(
            f"SELECT g, {', '.join(hashing.minhash_sql('s', 4, salt))}"
            " FROM t GROUP BY g"
        ).fetchall()
    )
    assert got == want
    # the salt selects the hash family: different salts, different mins
    other = hashing.minhash_sql("s", 4, "x" + salt)
    assert other != hashing.minhash_sql("s", 4, salt)


@pytest.mark.parametrize(
    "kernel, twin",
    [
        (tx.tokens, tx.tokens_sql),
        (tx.wordpieces, tx.wordpieces_sql),
        (tx.cjk_count, tx.cjk_count_sql),
        (tx.lang_id, tx.lang_id_sql),
        (tx.normalized_fingerprint, tx.normalized_fingerprint_sql),
        (tx.clean_text, tx.clean_text_sql),
        (tx.quality_score, tx.quality_score_sql),
    ],
    ids=lambda f: getattr(f, "__name__", ""),
)
def test_text_twin(spark, kernel, twin):
    got = _spark(spark, kernel("text"), "text string", text=TEXTS)
    want = _duck(twin("text"), text=TEXTS)
    assert got == want


def test_quality_twin_scores_are_not_all_equal(spark):
    """Meta-check: the text rows reach every band of the score, so the
    quality comparison above is not vacuous."""
    got = _spark(spark, tx.quality_score("text"), "text string", text=TEXTS)
    assert {0.0, 1.0} <= set(got) and len(set(got)) >= 3


@pytest.mark.parametrize(
    "stopwords",
    [tx.STOPWORDS_EN, tx.STOPWORDS_ES, tx.STOPWORDS_EN + tx.STOPWORDS_ES],
)
def test_stopword_count_twin(spark, stopwords):
    col = tx.stopword_count(tx.tokens("text"), stopwords)
    got = _spark(spark, col, "text string", text=TEXTS)
    want = _duck(tx.stopword_count_sql(tx.tokens_sql("text"), stopwords), text=TEXTS)
    assert got == want
    assert any(got)


@pytest.mark.parametrize("n", [1, 2, 5])
def test_ngrams_twin(spark, n):
    arrays = [[], ["a"], ["a", "b"], list("abcd"), list("abcdef"), ["北京", "上海"]]
    got = _spark(spark, tx.ngrams("a", n), "a array<string>", a=arrays)
    want = _duck(tx.ngrams_sql("a", n), a=arrays)
    assert got == want
    # arrays shorter than n give no window
    assert all(g == [] for a, g in zip(arrays, got) if len(a) < n)


@pytest.mark.parametrize("n", [1, 2, 5])
def test_ngrams_twin_over_tokens(spark, n):
    got = _spark(spark, tx.ngrams(tx.tokens("text"), n), "text string", text=TEXTS)
    want = _duck(tx.ngrams_sql(tx.tokens_sql("text"), n), text=TEXTS)
    assert got == want


def _vectors(n: int, dim: int) -> list[list[float]]:
    rng = np.random.RandomState(3)
    vs = rng.standard_normal((n, dim)).astype(np.float32)
    return [[float(x) for x in v] for v in vs]


def _duck_vectors(select: str, a, b) -> list:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT CAST(UNNEST(?) AS FLOAT[]) AS a,"
        " CAST(UNNEST(?) AS FLOAT[]) AS b",
        [a, b],
    )
    return [r[0] for r in con.execute(f"SELECT {select} FROM t").fetchall()]


@pytest.mark.parametrize("dim", [3, V.DIM])
def test_vector_twins(spark, dim):
    vs = _vectors(12, dim)
    a, b = vs[:6], vs[6:]
    df = spark.createDataFrame(
        list(zip(range(6), a, b)), "rid int, a array<float>, b array<float>"
    )
    da, db = V.as_double("a"), V.as_double("b")
    row = df.select(
        "rid",
        da.alias("ad"),
        V.norm(da).alias("norm"),
        V.cosine(da, db).alias("cos"),
        V.sq_dist(da, db).alias("d2"),
    ).orderBy("rid").collect()
    sa, sb = V.as_double_sql("a"), V.as_double_sql("b")
    assert [r.ad for r in row] == _duck_vectors(sa, a, b)
    assert [r.norm for r in row] == _duck_vectors(V.norm_sql(sa), a, b)
    assert [r.d2 for r in row] == _duck_vectors(V.sq_dist_sql(sa, sb, dim), a, b)
    assert [r.cos for r in row] == _duck_vectors(V.cosine_sql(sa, sb), a, b)
