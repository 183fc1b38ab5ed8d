r"""PII detection and redaction — the scrub pass a training-data pipeline
runs before (or alongside) dedup, as JVM-side Column expressions.

The reference engine has no PII stage (it stops at word-level dedup,
src/wprofile.cpp); this module covers the adjacent pipeline step the way
the text-analysis helpers do: every expression is a built-in-function
Column (regexp_replace / regexp_extract_all chains — whole-stage codegen,
no Python in the hot path) and every pattern is mirrorable in ANSI SQL so
the driver's DuckDB oracle can replay it.

Pattern dialect: the patterns below deliberately use only the regex
subset Java (Spark) and RE2 (DuckDB) agree on — character classes,
bounded repetition, alternation, ``\b`` word boundaries; no lookarounds
(RE2 has none), no backreferences.  ``\d`` is ASCII in both.

Scale shape: a narrow projection over the corpus — no shuffle, no state.
At 100 TB this runs fused into whatever scan already reads the text
column (Catalyst collapses the projection chain); redaction order is the
dict order of ``PII_PATTERNS`` so output is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Ordered: email first so an address is consumed whole before the ipv4
# pattern can nibble at digit runs inside its domain
# (user@192.168.1.1.corp.example.com).
# Replacement tokens contain no `$` or `\` (Java regexp_replace treats
# both specially in the replacement string).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    # 3-3-4 with -, . or space separators (after ssn so 3-2-4 is taken)
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
}


def _col(text: Column | str) -> Column:
    return F.col(text) if isinstance(text, str) else text


def redact(text: Column | str) -> Column:
    """Replace every PII match with ``<NAME>`` (e.g. ``<EMAIL>``), in
    ``PII_PATTERNS`` order.  One fused chain of regexp_replace calls."""
    c = _col(text)
    for name, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"<{name.upper()}>")
    return c


def pii_count(text: Column | str, pattern: str) -> Column:
    """Number of matches of one PII pattern (0 for none, null for null
    text) — ``size(regexp_extract_all(...))``."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(pattern), F.lit(0)))


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-type match-count Columns (one per ``PII_PATTERNS`` entry), e.g.
    for a select/agg over the corpus before deciding to redact vs drop."""
    return {name: pii_count(text, pat) for name, pat in PII_PATTERNS.items()}
