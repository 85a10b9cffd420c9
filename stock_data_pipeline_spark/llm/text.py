"""Text analysis operators: tokenization stats, quality scoring,
language ID, document fingerprinting.

All pure column expressions (JVM-side, codegen) — no UDFs. The
arithmetic is written to be exactly reproducible in ANSI SQL (left-fold
reduces, integer mods) so every operator is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deterministic tie-break: first list wins (priority order below).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "por"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "de", "et", "les", "des", "une", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5"],
}
ENGLISH_STOPWORDS = LANG_MARKERS["en"] + ["that", "for", "on", "with", "as", "at", "by"]


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokenization with empty-token filtering (split on runs
    of whitespace; leading/trailing runs produce empties we drop)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


def token_count(text_col: Column | str) -> Column:
    return F.size(tokens(text_col))


def stopword_ratio(text_col: Column | str, stopwords: list[str] | None = None) -> Column:
    sw = [s.lower() for s in (stopwords or ENGLISH_STOPWORDS)]
    toks = tokens(text_col)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(sw)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def punct_ratio(text_col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.length(stripped).cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def quality_score(text_col: Column | str) -> Column:
    """Composite quality heuristic in [0,1]:
    0.4·length-saturation(100 tokens) + 0.3·stopword-ratio + 0.3·(1−punct-ratio).

    A cheap C4/Gopher-style filter signal; at 100 TB this runs in one
    codegen'd scan pass, no shuffle.
    """
    length_sat = F.least(token_count(text_col).cast("double") / F.lit(100.0), F.lit(1.0))
    return (
        F.lit(0.4) * length_sat
        + F.lit(0.3) * stopword_ratio(text_col)
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(text_col))
    )


def _marker_filter(markers: list[str]):
    # NB: must return a 1-arg lambda — F.filter treats a 2-arg lambda
    # (even with a default) as (element, index), silently binding the
    # array index to the second parameter.
    return lambda t: F.lower(t).isin(markers)


def lang_scores(text_col: Column | str) -> dict[str, Column]:
    """Marker-token hit count per language."""
    toks = tokens(text_col)
    return {
        lang: F.size(F.filter(toks, _marker_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text_col: Column | str) -> Column:
    """Predicted language = argmax marker-hit count, ties resolved in
    the fixed priority order of ``LANG_MARKERS``; 'und' when no marker
    hits at all."""
    scores = lang_scores(text_col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build the WHEN chain in reverse priority so earlier langs win ties
    for lang in reversed(list(scores)):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text_col: Column | str) -> Column:
    """Polynomial rolling hash of the character stream:
    ``acc = (acc·31 + codepoint) mod 1_000_000_007`` — a deterministic,
    engine-portable document fingerprint (left fold, exact integer
    arithmetic, reproducible in any SQL dialect with a list-reduce).

    For production-scale exact dedup prefer :func:`fingerprint_fast`
    (xxhash64, one JVM intrinsic call); this portable variant exists so
    correctness can be verified against an independent engine.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    codes = F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.ascii(c.substr(i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FINGERPRINT_BASE + x) % FINGERPRINT_MOD,
    )


def fingerprint_fast(text_col: Column | str) -> Column:
    """64-bit xxhash64 fingerprint — the scale path for exact dedup."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.xxhash64(c)
