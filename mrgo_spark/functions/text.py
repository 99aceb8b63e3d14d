"""Text column expressions shared across operators.

Tokenization mirrors the reference's word-count split ("split on every
non-letter rune, drop empties" — reference mrapps/wc.go:26-29,
mrapps/indexer.go:24). The oracle-declared variant is ASCII
(``[^A-Za-z]+``) per SURVEY.md §7.3 risk register; a Unicode variant
exists for engine-native use.

All helpers return Column expressions (JVM-side, codegen'd) — no
Python UDFs in the tokenize hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ASCII_NONLETTER = "[^A-Za-z]+"
UNICODE_NONLETTER = r"[^\p{L}]+"


def ascii_tokens(text: Column | str, lowercase: bool = False) -> Column:
    """Array of ASCII-letter tokens (empties removed)."""
    col = F.col(text) if isinstance(text, str) else text
    if lowercase:
        col = F.lower(col)
        pat = "[^a-z]+"
    else:
        pat = ASCII_NONLETTER
    return F.filter(F.split(col, pat), lambda t: t != F.lit(""))


def unicode_tokens(text: Column | str) -> Column:
    """Array of Unicode-letter tokens (engine-native variant)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, UNICODE_NONLETTER), lambda t: t != F.lit(""))


def ws_tokens(text: Column | str) -> Column:
    """Whitespace-split tokens (for token-count statistics)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


# GPT-2-style pre-tokenizer, minus the lookahead branches PCRE has
# and RE2 lacks — contractions, space-prefixed letter/digit/punct
# runs, whitespace runs. Identical leftmost-first semantics in Java
# regex (Spark) and RE2 (DuckDB), so it is oracle-declarable.
BPE_PRETOKEN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_tokens(text: Column | str) -> Column:
    """BPE-ish pre-tokenization: array of matches of BPE_PRETOKEN
    (whitespace runs included, as the real pre-tokenizer emits them)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(col, F.lit(BPE_PRETOKEN), F.lit(0))


def bpe_token_count(text: Column | str) -> Column:
    """Count of non-whitespace BPE-ish tokens — the training-cost
    proxy a data pipeline budgets by."""
    return F.size(F.filter(bpe_tokens(text), lambda t: ~t.rlike(r"^\s+$")))


def word_ngrams(text: Column | str, n: int) -> Column:
    """Per-row word n-gram array (lowercased ascii tokens joined by
    one space); empty array below n tokens. The ONE gram builder —
    pipeline decontamination, textstats n-gram counts, and bigram
    novelty all call this so a tokenizer-edge fix lands everywhere
    at once."""
    return ngrams_from_tokens(ascii_tokens(text, lowercase=True), n)


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """The gram-assembly half of word_ngrams for an ALREADY-tokenized
    array column — for call sites that tokenize once into a
    checkpointed frame and build grams from the stored array
    (ngram_precision_eval). Same space-joined encoding, same
    empty-below-n rule."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")),
    ).otherwise(F.array().cast("array<string>"))
