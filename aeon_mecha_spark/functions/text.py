"""Text-analysis scalar functions for the training-data pipeline layer.

All pure Catalyst expressions (regexp/split/aggregate) so they run
JVM-side at 100 TB — no Python in the per-document path. Semantics are
chosen to be expressible 1:1 in ANSI SQL for the DuckDB oracle.

Array lambdas (``transform``, ``filter``, ``aggregate``, ``zip_with``)
are interpreted and evaluate their body once per element, including
every expression the body captures from outside. A body that indexes or
slices a computed array such as ``tokens(text)`` re-splits the whole
document for every token: quadratic in document length. So a lambda
reads only columns or its own element; k-grams come from aligned
``slice`` views zipped by :func:`shifted_slices`, and an operator that
indexes its tokens per element projects them into a column first.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual stopword set used by quality scoring / language-ID
# heuristics. Deliberately tiny + deterministic (a config, not a model).
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(text) > 0, F.length(stripped) / F.length(text)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (lowercased) stopwords."""
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = tokens(F.lower(text))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def mean_token_len(text: Column) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, total / n).otherwise(F.lit(0.0))


def char_shingles(text: Column, k: int = 5) -> Column:
    """All k-char shingles of a string as an array (positions 1..len-k+1);
    empty array for strings shorter than k. Building block for MinHash /
    n-gram Jaccard dedup.

    Pass a plain column: the per-position lambda captures ``text`` and
    re-evaluates it for every shingle, so a computed argument (say
    ``lower(col)``) would be recomputed len times per row. Project it
    into a column first.

    The length guard is load-bearing: Spark's ``sequence(1, 0)`` DESCENDS
    to ``[1, 0]`` (implicit step −1 when start > stop), so the unguarded
    index range would emit two truncated garbage shingles for short
    strings (caught by test_scalar_helper_parity, round 12)."""
    idx = F.sequence(F.lit(1), F.length(text) - (k - 1))
    return F.when(
        F.length(text) >= k,
        F.transform(idx, lambda i: F.substr(text, i, F.lit(k))),
    ).otherwise(F.array().cast("array<string>"))


def shifted_slices(toks: Column, k: int) -> list[Column]:
    """The k aligned views ``toks[1..m], toks[2..m+1], …, toks[k..n]``
    (m = n − k + 1, or 0 when n < k): zipped, row i is the k-gram
    starting at token i. Lambda-free, so ``toks`` is evaluated a fixed
    number of times per row (at most 2k), whatever n is."""
    if k < 1:
        raise ValueError(f"shifted_slices: k must be >= 1, got {k}")
    m = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))
    return [F.slice(toks, j + 1, m) for j in range(k)]


def token_ngrams(toks: Column, k: int) -> Column:
    """The space-joined k-grams of a token array, in order; empty when it
    holds fewer than k tokens, NULL for a NULL array. The join lambda
    reads only its own zipped element."""
    grams = F.arrays_zip(*[s.alias(f"w{j}") for j, s in enumerate(shifted_slices(toks, k))])
    return F.transform(grams, lambda g: F.concat_ws(" ", *[g[f"w{j}"] for j in range(k)]))


def word_shingles(text: Column, k: int = 3) -> Column:
    """All k-word shingles (space-joined) — cheaper than char shingles on
    long documents, standard for MinHash document dedup. A document with
    fewer than k tokens is one shingle, its tokens joined."""
    toks = tokens(text)
    return F.when(F.size(toks) >= k, token_ngrams(toks, k)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def normalize_text(text: Column) -> Column:
    """Lowercase, strip punctuation, collapse whitespace — the canonical
    form for fuzzy-exact fingerprint dedup."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t


# GPT-2-style pretokenizer, restricted to lookahead-free constructs so
# the SAME pattern runs under Java regex (Spark) and RE2 (DuckDB), both
# leftmost-first alternation: contractions, space-prefixed letter/digit
# runs, space-prefixed punctuation runs, residual whitespace.
BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """Approximate LLM token count via the BPE-ish pretokenizer split —
    tracks real tokenizer counts far better than whitespace words on
    punctuation/code/number-heavy text (every run of digits or symbols
    costs tokens). Pure Catalyst regexp; engine-portable."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))
