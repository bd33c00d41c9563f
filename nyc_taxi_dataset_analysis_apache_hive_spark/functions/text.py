"""Text-processing column expressions (training-data pipeline extensions).

All built-in-function compositions (split / filter / transform / md5 /
regexp) -- JVM-side, codegen-friendly, no Python UDFs.  Tokenization is
deliberately defined by one shared regex so the Spark implementations and the
DuckDB oracles agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: One canonical tokenizer: lowercase, split on non-alphanumeric runs.
TOKEN_SPLIT_REGEX = "[^a-z0-9]+"

#: BPE-ish token regex: letter runs, digit runs, or single punctuation marks.
BPE_TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

#: Tiny embedded stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"],
    "de": ["der", "die", "und", "das", "ist", "ein", "mit", "von", "auf", "zu"],
}


def tokens(text: str | Column = "text") -> Column:
    """Distinct-preserving token array: lowercase, non-alnum split, no empties."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), TOKEN_SPLIT_REGEX), lambda x: x != F.lit(""))


def distinct_tokens(text: str | Column = "text") -> Column:
    """Token *set* (order-insensitive, sorted for determinism)."""
    return F.array_sort(F.array_distinct(tokens(text)))


def token_count_ws(text: str | Column = "text") -> Column:
    """Whitespace/punct token count.  NULL text counts as an empty
    document (0), NOT NULL: under non-ANSI Spark ``size(NULL)`` is -1,
    which would poison every downstream ratio/threshold (found by the
    r9 adversarial-corpus sweep)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(tokens(F.coalesce(t, F.lit("")))).cast("long")


def token_count_bpe(text: str | Column = "text") -> Column:
    """BPE-ish token count: letter runs + digit runs + punctuation marks.
    NULL text counts as 0 (token_count_ws's policy)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(
            F.lower(F.coalesce(t, F.lit(""))), F.lit(BPE_TOKEN_REGEX), 0
        )
    ).cast("long")


def ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Array of word n-grams (space-joined) from a token-array column.

    1-based ``slice`` over a ``sequence(1, len-n+1)`` of start indices; empty
    array when the document has fewer than ``n`` tokens (guarded with
    ``when`` -- Spark's ``sequence(1, 0)`` would count *down*).

    PERF: pass a *materialized* token array column (``df.select(tokens(...)
    .alias("toks"))`` first, then call this on ``col("toks")``).  Inlining the
    tokenizer expression here makes every lambda reference re-evaluate the
    split+filter, turning an O(grams) projection into O(tokens x grams) --
    measured 23x slower at sf0.1.  Spark's CollapseProject will not merge the
    two projections precisely because the token expression is non-cheap and
    multiply-referenced.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def normalized_text(text: str | Column = "text") -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    t = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(t), "\\s+", " "))


def fingerprint_md5(text: str | Column = "text") -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(text))


def punct_ratio(text: str | Column = "text") -> Column:
    """Fraction of characters that are neither alnum nor whitespace."""
    t = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(t, "[a-zA-Z0-9\\s]", "")
    return F.length(stripped) / F.nullif(F.length(t).cast("double"), F.lit(0.0))


def stopword_hits_from_tokens(toks: Column, lang: str = "en") -> Column:
    """Number of tokens in ``toks`` that are stopwords of ``lang``.

    Pass a materialized token-array column in hot paths (same PERF note as
    ngrams_from_tokens: the filter lambda re-evaluates inline tokenizers).
    """
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast("long")
