"""Text-analysis operators for training-data pipelines (driver brief):
token counting, quality scoring, language-ID, document fingerprinting.

Everything is native Catalyst expressions — no Python UDFs — so the hot
path stays JVM-side at corpus scale. Each function returns Columns that
compose into a single projection over the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64

# Tiny per-language stopword marker sets for the n-gram/stopword
# language heuristic. Deliberately small + deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
    "es": ("el", "la", "los", "y", "es", "una", "que"),
}

EN_STOPWORDS = LANG_MARKERS["en"] + ("for", "on", "with", "as", "at", "by", "an")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text → array<string>.
    Empty/blank text yields an empty array (not [''])."""
    t = F.trim(F.lower(_c(text)))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count(text: Column | str) -> Column:
    """Whitespace token count (long)."""
    return F.size(tokens(text)).cast("long")


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring signals: length, token stats, punctuation ratio,
    stopword ratio, mean word length — the standard pre-training
    corpus filters (C4/Gopher-style heuristics)."""
    t = _c(text)
    toks = tokens(text)
    n_chars = F.length(t).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*EN_STOPWORDS)))
    mean_word_len = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0.0), lambda acc, w: acc + F.length(w)) / n_tokens,
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0)),
        "mean_word_len": mean_word_len,
    }


def language_id(text: Column | str) -> Column:
    """Stopword-marker language heuristic: the language whose marker set
    hits the most tokens wins; ties and zero-hit texts → 'und'.

    Deterministic CASE cascade (greatest-hits argmax with fixed language
    order), so it is fully SQL-expressible for oracle checking.
    """
    toks = tokens(text)
    hits = {
        lang: F.size(F.filter(toks, lambda w: w.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.greatest(*[hits[lang] for lang in langs])
    expr = F.lit("und")
    # Later languages in the dict order take precedence only if strictly
    # better; build the cascade back-to-front so earlier languages win ties.
    for lang in reversed(langs):
        expr = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def doc_fingerprint(text: Column | str) -> Column:
    """64-bit-ish document fingerprint: portable hash of the normalized
    (lowercased, whitespace-collapsed) text. Identical normalization →
    identical fingerprint across engines (see functions/hashing.py)."""
    normalized = F.regexp_replace(F.trim(F.lower(_c(text))), r"\s+", " ")
    return portable_hash64(normalized)

