"""Text-analysis functions for training-data pipelines (all JVM-side).

Every function here returns a Column built from built-in
``pyspark.sql.functions`` — whole-stage-codegen'd, no Python in the hot
path. Each has an exact DuckDB-SQL twin used by the driver's oracle
(see __spark_entry__.py), which is why the formulas stick to operations
with identical semantics in both engines (length, split, regexp_count,
md5, integer arithmetic, IEEE double division).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small English stopword marker set (shared with the SQL oracle verbatim)
STOPWORD_RE = r"\b(the|and|of|to|a|in|is|it|that|for)\b"
PUNCT_RE = r"[.,;:!?]"


def token_count(text: str | Column = "text") -> Column:
    """Whitespace token count (single-space-separated corpus)."""
    return F.size(F.split(F.col(text) if isinstance(text, str) else text, " "))


def punct_count(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(PUNCT_RE))


def stopword_count(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.lower(c), F.lit(STOPWORD_RE))


def quality_score(text: str | Column = "text") -> Column:
    """Deterministic quality heuristic in [0, ~1]: rewards stopword density
    (realistic prose) and penalizes punctuation soup and trivial length.
    Pure double arithmetic — bit-identical across engines."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c).cast("double")
    words = token_count(c).cast("double")
    stops = stopword_count(c).cast("double")
    punct = punct_count(c).cast("double")
    return (
        F.least(n / F.lit(500.0), F.lit(1.0)) * F.lit(0.4)
        + (stops / words) * F.lit(0.4)
        + F.greatest(F.lit(0.0), F.lit(0.2) - (punct / words) * F.lit(0.2))
    )


def fingerprint(text: str | Column = "text") -> Column:
    """Stable document fingerprint. md5 (not xxhash64) so the DuckDB
    oracle can reproduce it byte-for-byte."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def distinct_word_count(text: str | Column = "text") -> Column:
    """Distinct whitespace-token count (the numerator of the Gopher-style
    duplicate-word-fraction repetition signal)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.array_distinct(F.split(c, " ")))


def dup_word_fraction(text: str | Column = "text") -> Column:
    """1 − distinct/total words: ~0 for varied prose, →1 for degenerate
    repetition (boilerplate, keyword stuffing, generation loops) — a
    standard pre-training quality filter signal. IEEE double division,
    bit-identical across engines."""
    c = F.col(text) if isinstance(text, str) else text
    total = token_count(c).cast("double")
    return F.lit(1.0) - distinct_word_count(c).cast("double") / total


def mean_word_len(text: str | Column = "text") -> Column:
    """Mean token length over a single-space-separated corpus:
    (chars − separators) / words. Length/split arithmetic only."""
    c = F.col(text) if isinstance(text, str) else text
    words = token_count(c).cast("double")
    return (F.length(c).cast("double") - (words - F.lit(1.0))) / words


def bpe_ish_token_count(text: str | Column = "text") -> Column:
    """Approximate BPE token count: words + digits + punctuation marks each
    count as a token, long words count extra per 6 chars (a public
    regex-heuristic approximation of subword tokenizers)."""
    c = F.col(text) if isinstance(text, str) else text
    words = token_count(c).cast("long")
    # floor, not cast: double→int casts truncate in Spark but round in DuckDB
    extra = F.floor(F.length(F.regexp_replace(c, r"\s", "")) / F.lit(6.0)).cast("long")
    return words + punct_count(c).cast("long") + extra
