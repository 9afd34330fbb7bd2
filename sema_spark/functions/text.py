"""Text-analysis functions for training-data pipelines.

All hot-path functions are built-in-only (regexp/length/split inside
whole-stage codegen) and deliberately **dual-expressible**: each has an
exact ANSI-SQL equivalent runnable by DuckDB, which is how the driver's
oracle harness checks them (``__spark_entry__.oracle_sql``).  RE2-safe
patterns only (no lookbehind/backrefs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language; tie-break order = dict order.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is|a)\b",
    "de": r"\b(der|die|das|und|ist|ein)\b",
    "fr": r"\b(le|la|les|et|est|un)\b",
    "es": r"\b(el|los|las|y|es|un)\b",
}


def _count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pattern), F.lit(0)))


def language_id(col: Column | str) -> Column:
    """Deterministic n-gram/stopword argmax language guess."""
    col = F.col(col) if isinstance(col, str) else col
    counts = {k: _count_matches(col, p) for k, p in LANG_MARKERS.items()}
    keys = list(counts)
    expr = F.lit(keys[-1])
    # build reverse so earlier languages win ties (>= later ones)
    for k in reversed(keys[:-1]):
        later = [counts[j] for j in keys[keys.index(k) + 1 :]]
        expr = F.when(counts[k] >= F.greatest(*later) if len(later) > 1 else counts[k] >= later[0], F.lit(k)).otherwise(expr)
    return expr


def word_count(col: Column | str) -> Column:
    """Whitespace-token count; 0 for empty/whitespace-only text
    (split(trim(''), '\\s+') yields [''] — size 1 — without the guard,
    creating a phantom word in every downstream ratio)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(F.size(F.split(F.trim(col), r"\s+")))


def token_count_bpe_ish(col: Column | str) -> Column:
    """BPE-ish token count: letter runs, digit runs, single punctuation."""
    col = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)))


def punct_ratio(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    n = F.length(col)
    return (n - F.length(F.regexp_replace(col, r"[.,;:!?]", ""))) / F.nullif(n.cast("double"), F.lit(0.0))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return _count_matches(col, LANG_MARKERS[lang]) / F.nullif(word_count(col).cast("double"), F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic (length, punctuation, stopwords).

    Identical formula ships in the DuckDB oracle; keep the two in sync.
    """
    col = F.col(col) if isinstance(col, str) else col
    length_part = F.least(word_count(col) / F.lit(100.0), F.lit(1.0))
    punct_part = F.lit(1.0) - F.least(F.coalesce(punct_ratio(col), F.lit(1.0)) * 10.0, F.lit(1.0))
    stop_part = F.least(F.coalesce(stopword_ratio(col), F.lit(0.0)) * 5.0, F.lit(1.0))
    return F.round(0.4 * length_part + 0.3 * punct_part + 0.3 * stop_part, 6)


def content_fingerprint(col: Column | str) -> Column:
    """Whitespace/case-normalized sha256 — exact-dup fingerprint that both
    engines compute identically (DuckDB needs the 'g' regexp flag)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sha2(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), 256)


def with_text_features(df, text_col: str = "text"):
    c = F.col(text_col)
    return df.select(
        "*",
        language_id(c).alias("lang_guess"),
        word_count(c).alias("n_words"),
        token_count_bpe_ish(c).alias("n_tokens"),
        quality_score(c).alias("quality"),
        content_fingerprint(c).alias("fingerprint"),
    )
