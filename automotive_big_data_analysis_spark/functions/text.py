"""Text-analysis column expressions: tokenization, quality scoring,
language-ID heuristics, fingerprinting.

All pure built-in expressions (regexp / higher-order array functions) so
they run inside whole-stage codegen — the 100 TB path never leaves the JVM.
Each has a documented DuckDB-SQL equivalent used by the oracle queries in
``operators/text_analysis.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny embedded stopword lists (public, language-frequency commonplace).
STOPWORDS_EN = ["the", "a", "an", "of", "and", "in", "to", "is", "it", "for"]
STOPWORDS_ES = ["el", "la", "de", "los", "las", "y", "en", "es", "un", "una"]

TOKEN_PATTERN = r"\S+"
# BPE-ish word/number/punctuation split (reference has no tokenizer; this
# is the training-data-pipeline extension).
WORDPIECE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokens. DuckDB: ``regexp_extract_all(text, '\\S+')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), F.lit(0))


def wordpieces(col: str | Column = "text") -> Column:
    """BPE-ish pieces (letter runs / digit runs / single punctuation).
    DuckDB: same pattern via ``regexp_extract_all``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(WORDPIECE_PATTERN), F.lit(0))


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col))


def ngrams(arr: str | Column, n: int) -> Column:
    """Every window of ``n`` consecutive elements, space-joined, in
    order; empty when the array has fewer than ``n`` elements (Spark's
    ``sequence(1, 0)`` would count down). DuckDB: ``list_transform(
    range(1, GREATEST(len(arr) - (n-1), 0) + 1), i -> list_aggregate(
    list_slice(arr, i, i + n-1), 'string_agg', ' '))``.

    Explode the result as an expression, never through a projected
    attribute: Spark infers a ``size(x) > 0`` filter for a bare
    attribute and pushes it below any staging exchange, where it
    re-runs the whole pipeline that produced the array."""
    a = F.col(arr) if isinstance(arr, str) else arr
    return F.when(
        F.size(a) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(a) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(a, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def stopword_count(tokens_col: Column, stopwords: list[str]) -> Column:
    """How many tokens (lowercased) are in the stopword list."""
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(
        F.filter(tokens_col, lambda t: F.array_contains(arr, F.lower(t)))
    )


def cjk_count(col: str | Column = "text") -> Column:
    """Count of CJK-ideograph characters. DuckDB (RE2):
    ``len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]'))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[一-鿿]"), F.lit(0)))


def lang_id(col: str | Column = "text") -> Column:
    """Heuristic language ID: CJK-heavy → zh; more Spanish than English
    stopword hits → es; otherwise en. Deterministic CASE chain, same
    semantics as the oracle SQL."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_chars = F.length(c)
    es_hits = stopword_count(toks, STOPWORDS_ES)
    en_hits = stopword_count(toks, STOPWORDS_EN)
    return (
        F.when(n_chars == 0, F.lit("unknown"))
        .when(cjk_count(c) * 10 > n_chars * 3, F.lit("zh"))
        .when(es_hits > en_hits, F.lit("es"))
        .otherwise(F.lit("en"))
    )


def normalized_fingerprint(col: str | Column = "text") -> Column:
    """Document fingerprint: lowercase, strip non-alphanumerics to single
    spaces, trim, md5. Collapses formatting-only duplicates. DuckDB:
    ``md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))``."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))
    return F.md5(normalized)


def strip_html(col: str | Column = "text") -> Column:
    """Remove HTML/XML tags and decode the five predefined entities —
    the first cleaning stage of every web-corpus pipeline. Pure regexp /
    replace chain (codegen-friendly). DuckDB equivalent: the same
    ``regexp_replace(…, '<[^>]*>', ' ', 'g')`` + chained ``replace``."""
    c = F.col(col) if isinstance(col, str) else col
    no_tags = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
    ]:
        no_tags = F.replace(no_tags, F.lit(ent), F.lit(ch))
    return no_tags


def normalize_whitespace(col: str | Column = "text") -> Column:
    """Collapse all whitespace runs to single spaces and trim. DuckDB:
    ``trim(regexp_replace(text, '\\s+', ' ', 'g'))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# PII patterns: deliberately simple, high-precision shapes (emails, E.164-ish
# phone numbers, bare IPv4) — the redaction *plumbing* is the point; a
# production pipeline swaps in its compliance-approved pattern set.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]


def redact_pii(col: str | Column = "text") -> Column:
    """Replace email/phone/IP shapes with typed placeholders. Chained
    ``regexp_replace`` — one codegen'd projection, no Python in the row
    path. DuckDB: same chain with ``regexp_replace(…, 'g')``."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def clean_text(col: str | Column = "text") -> Column:
    """Standard cleaning composition: strip markup → redact PII →
    normalize whitespace."""
    return normalize_whitespace(redact_pii(strip_html(col)))


def quality_score(col: str | Column = "text") -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence
    + mean token length band (the reference has no quality scoring; this
    is the pipeline extension). Rounded so oracle comparison is exact."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks)
    mean_len = F.when(n_tok > 0, F.length(c) / n_tok).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tok > 0,
        stopword_count(toks, STOPWORDS_EN + STOPWORDS_ES) / n_tok,
    ).otherwise(F.lit(0.0))
    score = (
        F.when((n_tok >= 20) & (n_tok <= 10_000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_len >= 3) & (mean_len <= 12), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return F.round(score, 2)


# The DuckDB mirrors every oracle shares: the stopword ``IN`` list and
# :func:`quality_score` over a row that carries ``n_tok`` (token count),
# ``n_chars`` (text length) and ``n_stop`` (stopword count).
STOP_ALL_SQL = ", ".join(f"'{w}'" for w in STOPWORDS_EN + STOPWORDS_ES)
QUALITY_SQL = """ROUND(
    (CASE WHEN n_tok >= 20 AND n_tok <= 10000 THEN 0.4 ELSE 0.0 END)
  + (CASE WHEN n_tok > 0
          AND CAST(n_chars AS DOUBLE)/n_tok >= 3
          AND CAST(n_chars AS DOUBLE)/n_tok <= 12
         THEN 0.3 ELSE 0.0 END)
  + (CASE WHEN n_tok > 0
          AND CAST(n_stop AS DOUBLE)/n_tok >= 0.05
         THEN 0.3 ELSE 0.0 END), 2)"""
