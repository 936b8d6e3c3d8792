"""Reusable column-expression builders (JVM-side, codegen-friendly).

Everything here returns ``pyspark.sql.Column`` objects composed from
built-in functions — no Python UDFs in any hot path.

Every kernel that a Spark query and its DuckDB oracle must compute the
same way has exactly one DuckDB twin, a ``*_sql`` function defined right
after it in the same module (``text.tokens``/``tokens_sql``,
``hashing.bucket``/``bucket_sql``, ``vectors.cosine``/``cosine_sql``, …).
Oracles call the twin; they never spell the kernel's SQL themselves
(``tests/test_no_pasted_twin.py``), and ``tests/test_twins.py`` checks
that each pair returns equal values on the same inputs.
"""
