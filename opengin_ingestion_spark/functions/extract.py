"""HTML→text extraction + language detection as vectorized pandas functions.

This is the engine's analog of the reference's per-page "expensive extract"
step (/root/reference/python/src/opengin/tracer/agents/scanner.py:70-100,
which calls a remote LLM per page, sequentially). Here the extraction is a
deterministic, pure, *vectorized* transform: a chain of pandas ``.str``
regex operations over Arrow record batches — no per-row Python, no network.

The SAME series functions are used by:
  * the merge's bucket-local transform (``plans.replay.pages_pandas_transform``,
    run by ``merge_batch`` inside ``mapInPandas`` on final winners only), and
  * the single-threaded pandas oracle in tests (`tests/oracle.py`),
so extracted text is byte-identical between engine and oracle by
construction (BASELINE.json input_hint: "byte-identical extracted text per
url").
"""

from __future__ import annotations

import pandas as pd

# --- extraction -----------------------------------------------------------

# Tag-stripping pipeline, applied in order. Each step is a vectorized
# pandas .str operation; the whole chain is pure and deterministic.
_SCRIPT_RE = r"(?is)<(script|style)\b[^>]*>.*?</\1>"
_COMMENT_RE = r"(?s)<!--.*?-->"
_BLOCK_TAG_RE = (
    r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article"
    r"|header|footer|nav|blockquote|pre|title|body|html|head)\b[^>]*>"
)
_ANY_TAG_RE = r"(?s)<[^>]*>"
_WS_RE = r"\s+"

# Minimal entity table — deterministic, no dependence on html.unescape's
# full (version-sensitive) entity db.
_ENTITIES = [
    ("&nbsp;", " "),
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
]


def extract_text_series(html: pd.Series) -> pd.Series:
    """binary/str HTML → plain text. Vectorized; null-safe (null → null)."""
    s = html
    if len(s) and not s.map(lambda v: v is None or isinstance(v, str)).all():
        s = s.map(lambda b: b if b is None else bytes(b).decode("utf-8", "replace"))
    s = s.astype("string")
    s = s.str.replace(_SCRIPT_RE, " ", regex=True)
    s = s.str.replace(_COMMENT_RE, " ", regex=True)
    s = s.str.replace(_BLOCK_TAG_RE, "\n", regex=True)
    s = s.str.replace(_ANY_TAG_RE, " ", regex=True)
    for ent, rep in _ENTITIES:
        s = s.str.replace(ent, rep, regex=False)
    # collapse all whitespace runs to single spaces, then trim
    s = s.str.replace(_WS_RE, " ", regex=True).str.strip()
    return s.astype(object).where(s.notna(), None)


# --- language detection ---------------------------------------------------

# Tiny deterministic stopword-marker heuristic (public-knowledge n-gram/
# stopword approach). Scores = count of marker-word hits per language.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour", "que"],
    "es": ["el", "los", "las", "es", "una", "para", "con", "por", "del"],
}


def detect_lang_series(text: pd.Series) -> pd.Series:
    """Plain text → 2-letter language code (vectorized marker counting)."""
    s = text.astype("string").str.lower()
    scores = {}
    for lang, words in _LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        scores[lang] = s.str.count(pat).fillna(0)
    df = pd.DataFrame(scores)
    best = df.idxmax(axis=1)
    best = best.where(df.max(axis=1) > 0, "und")  # undetermined
    return best.astype(object).where(text.notna(), None)
