"""Text-analysis functions for a training-data pipeline — all JVM-side
(built-in pyspark.sql.functions expressions; no Python in the hot path).

Each helper returns a Column so it composes in any select/filter; each is
mirrorable in ANSI SQL (the driver's DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword lists for the n-gram/stopword lang-id
# heuristic.  Deliberately tiny and hard-coded: the point is deterministic,
# SQL-mirrorable plumbing, not linguistic accuracy.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "pour", "que"],
}


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda x: x != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (the BPE-ish proxy: ~0.75 tokens/word is a
    downstream calibration, not computed here)."""
    return F.size(tokens(text))


def char_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c)


def distinct_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: distinct/total tokens (1.0 for empty docs)."""
    t = tokens(text)
    return F.when(F.size(t) > 0,
                  F.size(F.array_distinct(t)).cast("double") / F.size(t)
                  ).otherwise(F.lit(1.0))


def quality_score(text: Column | str) -> Column:
    """Composite heuristic in [0,1]: rewards mid-length docs with diverse
    vocabulary — the shape of C4/RefinedWeb-style quality filters, kept
    deliberately simple + SQL-mirrorable."""
    n = token_count(text)
    len_score = F.least(n.cast("double") / 50.0, F.lit(1.0))
    return F.round(len_score * 0.5 + distinct_token_ratio(text) * 0.5, 6)


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts."""
    t = tokens(text)
    out = {}
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return out


def lang_id(text: Column | str) -> Column:
    """argmax over language stopword hits; 'und' (undetermined) when no
    stopwords hit.  Deterministic tie-break: language name order."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct(
                (scores[lang].cast("long") * -1).alias("neg"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(STOPWORDS)
        ]
    )
    best = F.array_min(pairs)
    return F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column | str) -> Column:
    """Canonical document fingerprint: md5 of whitespace-normalized,
    lowercased text — equal fingerprints ⇔ equal normalized content."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))
