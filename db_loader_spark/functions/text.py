"""Text-analysis primitives for document pipelines (100 TB-scale design).

Everything here is a pure Column expression — no UDFs, no shuffles of
its own — so Catalyst inlines it into whatever scan/aggregate uses it.
Determinism note: ratios are single FP divisions and weighted sums are
fixed-order, so results are bit-identical across engines that follow
IEEE-754 (the DuckDB oracles rely on this).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram-free heuristic.
# Real pipelines plug fastText/langid here; the heuristic keeps the whole
# path JVM-side and deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization with empty-token cleanup (lowercased) of a
    column or column name.

    NULL text tokenizes as empty ([]), not NULL — otherwise
    ``size(tokens)`` returns -1 and every downstream ratio/score goes
    out of range (the DuckDB oracles coalesce identically)."""
    return F.filter(
        F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+"),
        lambda t: t != F.lit(""),
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# ``*_of`` variants take an already-tokenized array column. Callers that
# need several token statistics should project ``tokens(text)`` ONCE in a
# separate select and feed the alias to these — CollapseProject refuses to
# inline a multiply-referenced non-trivial alias, so the regex split runs
# once per row instead of once per statistic.


def stopword_count_of(toks: Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_ratio_of(toks: Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    n = F.size(toks)
    return F.when(n > 0, stopword_count_of(toks, words) / n).otherwise(F.lit(0.0))


def avg_token_len_of(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def quality_score_of(toks: Column) -> Column:
    """Length-capped token count blended with stopword ratio ∈ [0,1].

    score = 0.5*min(n_tokens/100, 1) + 0.5*stopword_ratio — fixed
    operation order for cross-engine bit-equality.
    """
    n = F.size(toks)
    length_part = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    return F.lit(0.5) * length_part + F.lit(0.5) * stopword_ratio_of(toks)


def stopword_ratio(text: Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    return stopword_ratio_of(tokens(text), words)


def avg_token_len(text: Column) -> Column:
    return avg_token_len_of(tokens(text))


def lang_id(text: Column) -> Column:
    """Marker-word language heuristic: first language (in LANG_MARKERS
    order) with a marker hit wins; 'und' (undetermined) otherwise."""
    toks = tokens(text)
    expr = F.lit("und")
    for lang in reversed(LANG_MARKERS):
        markers = LANG_MARKERS[lang]
        hit = F.size(F.filter(toks, lambda t: t.isin(*markers))) > 0
        expr = F.when(hit, F.lit(lang)).otherwise(expr)
    return expr


# GPT-2-style pre-tokenizer pattern, restricted to constructs whose
# semantics are identical in Java regex (Spark) and RE2 (DuckDB): no
# lookarounds, ASCII classes only. Splits contractions, letter runs,
# digit runs, punctuation runs, each with an optional leading space.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+"


def bpe_ish_tokens(text: Column) -> Column:
    """Subword-ish tokens via the BPE pre-tokenizer regex (the token
    COUNT proxy LLM-data pipelines budget with, minus the merge table)."""
    return F.regexp_extract_all(F.lower(F.trim(text)), F.lit(BPE_ISH_PATTERN), F.lit(0))


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set — the classic 'fingerprint clustering' key (Google Refine)."""
    toks = tokens(text)
    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


# --------------------------------------------------------------------------
# PII detection / redaction (training-data scrubbing)
# --------------------------------------------------------------------------
# Patterns restricted to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): no lookarounds, no backrefs. Order of
# redaction matters: emails first (they contain dots/digits), then
# phones, then bare IPv4s.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def pii_count(text: Column, kind: str) -> Column:
    """Occurrences of one PII pattern (``email`` | ``phone`` | ``ipv4``)."""
    return F.regexp_count(F.coalesce(text, F.lit("")), F.lit(PII_PATTERNS[kind]))


def redact_pii(text: Column) -> Column:
    """Replace every PII match with a typed placeholder token.

    JVM-side ``regexp_replace`` chain — one pass per pattern, no UDF; at
    100 TB this stays inside whole-stage codegen on the scan."""
    out = F.coalesce(text, F.lit(""))
    for kind in ("email", "phone", "ipv4"):  # fixed order, see above
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out
