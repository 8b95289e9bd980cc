"""Engine scalar-function library — pure Column expressions, zero Python UDFs.

Every function here compiles to built-in Catalyst expressions so the whole
transform surface stays inside whole-stage codegen (SURVEY.md §2.4, §7.3).
"""

from .durations import iso8601_duration_seconds
from .nullsafe import null_safe_length, null_safe_size, safe_ratio, to_long_or_zero
from .datetimefns import day_name, time_of_day, ts_parse_utc
from .text import (
    doc_fingerprint,
    lang_id_t,
    marker_count_t,
    normalize_text,
    punct_count,
    quality_score,
    quality_score_t,
    stopword_count_t,
    token_count,
    token_count_t,
    tokens,
    word_shingles_t,
)
from .vectors import cosine_similarity, dot_product, l2_norm

__all__ = [
    "iso8601_duration_seconds",
    "null_safe_length",
    "null_safe_size",
    "safe_ratio",
    "to_long_or_zero",
    "day_name",
    "time_of_day",
    "ts_parse_utc",
    "normalize_text",
    "tokens",
    "token_count",
    "punct_count",
    "quality_score",
    "doc_fingerprint",
    "word_shingles_t",
    "lang_id_t",
    "marker_count_t",
    "quality_score_t",
    "stopword_count_t",
    "token_count_t",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
]
