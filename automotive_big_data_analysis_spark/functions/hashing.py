"""md5-keyed hashing kernels and their DuckDB twins.

Every hash-driven decision in the engine (sample membership, split
assignment, Bloom bits, Count-Min cells, min-hash signatures) is keyed on
md5, not Spark's xxhash64, so the DuckDB oracle can run the same
algorithm: both engines produce the same lowercase-hex digest, order it
identically, and read the same 32 bits from its first 8 hex characters.

A *salt* makes independent hash functions out of one digest: the salt
string is prepended to the key before hashing (``'b0:' || key``), so
each salt addresses its own pseudo-random permutation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bucket(key: Column, n: int, salt: str = "") -> Column:
    """Uniform bucket in [0, n) from the md5 of a stable row key.

    The first 8 hex chars give 32 uniform bits; ``conv`` runs JVM-side
    inside codegen. An unsalted key must already be a string; a salted
    one is cast to string after the salt."""
    k = F.concat(F.lit(salt), key.cast("string")) if salt else key
    return F.conv(F.substring(F.md5(k), 1, 8), 16, 10).cast("long") % n


def bucket_sql(key_sql: str, n: int, salt: str = "") -> str:
    """DuckDB twin of :func:`bucket`."""
    k = f"'{salt}' || CAST({key_sql} AS VARCHAR)" if salt else key_sql
    return f"(('0x' || substr(md5({k}), 1, 8))::BIGINT % {n})"


def minhash(col: str, n: int, salt: str = "") -> list[Column]:
    """The ``n`` min-hash aggregates of a string column: hash ``j`` is
    ``MIN(md5('{salt}{j}:' || col))``. Both engines order lowercase-hex
    digests identically, so each ``min`` is a valid permutation-min."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{salt}{j}:"), F.col(col)))) for j in range(n)
    ]


def minhash_sql(col_sql: str, n: int, salt: str = "") -> list[str]:
    """DuckDB twin of :func:`minhash`."""
    return [f"MIN(md5('{salt}{j}:' || {col_sql}))" for j in range(n)]
