"""Text-analysis column expressions: tokenization, quality scoring,
language-ID heuristics, fingerprinting.

All pure built-in expressions (regexp / higher-order array functions) so
they run inside whole-stage codegen — the 100 TB path never leaves the JVM.
Every kernel an oracle replays has its DuckDB twin (``*_sql``) defined
right after it; the oracles call the twin instead of spelling the SQL.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny embedded stopword lists (public, language-frequency commonplace).
STOPWORDS_EN = ["the", "a", "an", "of", "and", "in", "to", "is", "it", "for"]
STOPWORDS_ES = ["el", "la", "de", "los", "las", "y", "en", "es", "un", "una"]

TOKEN_PATTERN = r"\S+"
# BPE-ish word/number/punctuation split (reference has no tokenizer; this
# is the training-data-pipeline extension).
WORDPIECE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
WHITESPACE_RUN = r"\s+"


def _re2(pattern: str) -> str:
    """A Java regex as RE2 (DuckDB) must spell it: Java's ``\\s`` also
    matches the vertical tab ``\\x0B``, RE2's does not. Rewrites ``\\s``
    and ``\\S`` outside a character class and ``\\s`` inside one."""

    def fix(m: re.Match) -> str:
        tok = m.group(0)
        if tok.startswith("["):
            return tok.replace(r"\s", r"\s\x0B")
        return r"[\s\x0B]" if tok == r"\s" else r"[^\s\x0B]"

    return re.sub(r"\\[sS]|\[(?:\\.|[^\]])*\]", fix, pattern)


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), F.lit(0))


def tokens_sql(expr: str) -> str:
    """DuckDB twin of :func:`tokens` over a string expression."""
    return f"regexp_extract_all({expr}, '{_re2(TOKEN_PATTERN)}')"


def wordpieces(col: str | Column = "text") -> Column:
    """BPE-ish pieces (letter runs / digit runs / single punctuation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(WORDPIECE_PATTERN), F.lit(0))


def wordpieces_sql(expr: str) -> str:
    """DuckDB twin of :func:`wordpieces`."""
    return f"regexp_extract_all({expr}, '{_re2(WORDPIECE_PATTERN)}')"


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col))


def ngrams(arr: str | Column, n: int) -> Column:
    """Every window of ``n`` consecutive elements, space-joined, in
    order; empty when the array has fewer than ``n`` elements (Spark's
    ``sequence(1, 0)`` would count down).

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


def ngrams_sql(arr: str, n: int) -> str:
    """DuckDB twin of :func:`ngrams` over a string-list column (``range``
    with an end at or below its start is already empty). ``arr`` is
    spelled ``n + 1`` times inside the window lambda, so pass a column,
    not an expression that would be recomputed per window."""
    window = ", ".join(f"{arr}[i + {k}]" if k else f"{arr}[i]" for k in range(n))
    return (
        f"list_transform(range(1, GREATEST(len({arr}) - {n - 1}, 0) + 1),"
        f" i -> concat_ws(' ', {window}))"
    )


def stopword_count(tokens_col: Column, stopwords: list[str]) -> Column:
    """How many tokens (lowercased) are in the stopword list."""
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(
        F.filter(tokens_col, lambda t: F.array_contains(arr, F.lower(t)))
    )


def stopword_count_sql(toks: str, stopwords: list[str]) -> str:
    """DuckDB twin of :func:`stopword_count` over a token-list expression."""
    words = ", ".join(f"'{w}'" for w in stopwords)
    return f"len(list_filter({toks}, x -> lower(x) IN ({words})))"


def cjk_count(col: str | Column = "text") -> Column:
    """Count of CJK-ideograph characters."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[一-鿿]"), F.lit(0)))


def cjk_count_sql(expr: str) -> str:
    """DuckDB twin of :func:`cjk_count` (RE2 spells the range in hex)."""
    return f"len(regexp_extract_all({expr}, '[\\x{{4e00}}-\\x{{9fff}}]'))"


def lang_id(col: str | Column = "text") -> Column:
    """Heuristic language ID: CJK-heavy → zh; more Spanish than English
    stopword hits → es; otherwise en. Deterministic CASE chain."""
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


def lang_id_sql(expr: str) -> str:
    """DuckDB twin of :func:`lang_id` over a string expression."""
    toks = tokens_sql(expr)
    return (
        f"CASE WHEN length({expr}) = 0 THEN 'unknown'"
        f" WHEN {cjk_count_sql(expr)} * 10 > length({expr}) * 3 THEN 'zh'"
        f" WHEN {stopword_count_sql(toks, STOPWORDS_ES)}"
        f" > {stopword_count_sql(toks, STOPWORDS_EN)} THEN 'es'"
        " ELSE 'en' END"
    )


def normalized_fingerprint(col: str | Column = "text") -> Column:
    """Document fingerprint: lowercase, strip non-alphanumerics to single
    spaces, trim, md5. Collapses formatting-only duplicates."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))
    return F.md5(normalized)


def normalized_fingerprint_sql(expr: str) -> str:
    """DuckDB twin of :func:`normalized_fingerprint`."""
    return f"md5(trim(regexp_replace(lower({expr}), '[^a-z0-9]+', ' ', 'g')))"


# The five predefined entities, ``&amp;`` last so ``&amp;lt;`` decodes to
# ``&lt;``, not ``<``.
HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def strip_html(col: str | Column = "text") -> Column:
    """Remove HTML/XML tags and decode :data:`HTML_ENTITIES` — the first
    cleaning stage of every web-corpus pipeline. Pure regexp / replace
    chain (codegen-friendly)."""
    c = F.col(col) if isinstance(col, str) else col
    no_tags = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in HTML_ENTITIES:
        no_tags = F.replace(no_tags, F.lit(ent), F.lit(ch))
    return no_tags


def normalize_whitespace(col: str | Column = "text") -> Column:
    """Collapse all whitespace runs to single spaces and trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, WHITESPACE_RUN, " "))


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
    path."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def clean_text(col: str | Column = "text") -> Column:
    """Standard cleaning composition: strip markup → redact PII →
    normalize whitespace."""
    return normalize_whitespace(redact_pii(strip_html(col)))


def _lit_sql(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def clean_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`clean_text` over a string expression."""
    out = f"regexp_replace({expr}, '<[^>]*>', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        out = f"replace({out}, {_lit_sql(ent)}, {_lit_sql(ch)})"
    for pat, tag in PII_PATTERNS:
        pat = _lit_sql(_re2(pat))
        out = f"regexp_replace({out}, {pat}, {_lit_sql(tag)}, 'g')"
    return f"trim(regexp_replace({out}, '{_re2(WHITESPACE_RUN)}', ' ', 'g'))"


QUALITY_MIN = 0.4  # the curation gate: a document scoring below is dropped


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


def quality_score_sql(text: str) -> str:
    """DuckDB twin of :func:`quality_score` over a string expression.
    The three measures are bound once, in a struct that a lambda scores:
    DuckDB shares no subexpression repeated inside CASE branches, so a
    tokenizer spelled into each branch runs once per use (5x the wall of
    the bound form at sf0.1)."""
    toks = tokens_sql(text)
    stops = stopword_count_sql(toks, STOPWORDS_EN + STOPWORDS_ES)
    measures = (
        f"struct_pack(n_tok := len({toks}), n_chars := length({text}),"
        f" n_stop := {stops})"
    )
    return f"""list_transform([{measures}], s -> ROUND(
    (CASE WHEN s.n_tok >= 20 AND s.n_tok <= 10000 THEN 0.4 ELSE 0.0 END)
  + (CASE WHEN s.n_tok > 0
          AND CAST(s.n_chars AS DOUBLE)/s.n_tok >= 3
          AND CAST(s.n_chars AS DOUBLE)/s.n_tok <= 12
         THEN 0.3 ELSE 0.0 END)
  + (CASE WHEN s.n_tok > 0
          AND CAST(s.n_stop AS DOUBLE)/s.n_tok >= 0.05
         THEN 0.3 ELSE 0.0 END), 2))[1]"""
