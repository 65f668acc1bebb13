"""Text primitives for the training-data-pipeline operators — all built-in
``pyspark.sql.functions`` expressions (codegen'd; zero Python UDFs).

These are the building blocks for language-ID, quality scoring, token
counting, fingerprinting and shingle-based dedup (BASELINE.json north
star). Every primitive is deterministic and has an exact DuckDB SQL
equivalent so the catalog can oracle-check the operators built on top.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Word-boundary regexes work identically in Java regex (Spark)
# and RE2 (DuckDB).
LANGUAGE_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "et", "les", "des", "une", "est", "dans"],
    "es": ["el", "los", "las", "una", "es", "que", "por", "con"],
}

# BPE-ish lexer: letter runs | digit runs | single non-space symbol
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

FINGERPRINT_MOD = 1_000_000_000_007  # fits (mod*31 + cp) well inside int64


def whitespace_tokens(text: Column) -> Column:
    """Whitespace tokenization (empty string → zero tokens)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def regex_token_count(text: Column) -> Column:
    """BPE-ish token count via TOKEN_REGEX."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX)).cast("long")


def stopword_regex(lang: str) -> str:
    # Documented frontier (r17 unicode corner probe): Java's \b treats
    # COMBINING MARKS as word-internal while RE2's ASCII \b puts a
    # boundary at them — \ble\b on 'élève' counts 0 in
    # Spark and 1 in DuckDB (both measured). RE2 has no lookarounds,
    # so Java's exact boundary is not expressible oracle-side; the
    # fuzzer's TEXT_POOL therefore keeps combining sequences out
    # (precomposed forms like 'café' are fine — boundaries agree).
    # Pinned by tests/test_properties.py::
    # test_combining_mark_word_boundary_frontier.
    return r"\b(" + "|".join(LANGUAGE_STOPWORDS[lang]) + r")\b"


def language_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword hit counts."""
    return {
        lang: F.regexp_count(F.lower(text), F.lit(stopword_regex(lang))).cast("long")
        for lang in LANGUAGE_STOPWORDS
    }


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over code points, mod FINGERPRINT_MOD.

    ``h = (h*31 + codepoint) % M`` folded left-to-right — the classic
    document fingerprint, expressed as a codegen'd ``aggregate`` over the
    character array (identical arithmetic is expressible in DuckDB via
    ``list_reduce``, making it oracle-checkable — unlike engine-specific
    hashes like xxhash64/duckdb hash()).
    """
    return F.aggregate(
        F.split(text, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % FINGERPRINT_MOD,
    )
