"""Byte-pair-encoding vocabulary learning and application.

The tokenizer-construction step of an LLM data pipeline (Sennrich et
al., ACL 2016): learn the most frequent adjacent symbol pairs over a
corpus word-frequency table, then apply the learned merge list to text.

Split into the same two-phase shape as PQ (pq_train / pq_assign) and
k-means (kmeans_train / ivf_assign):

- ``bpe_learn`` is the iterative trainer — a bounded driver loop (one
  tiny ``collect`` per merge round, exactly like k-means centroid hops),
  operating on the DISTINCT-WORD frequency table so each round's cost
  scales with vocabulary size, not corpus size. Hash-gated since round
  10: the q163 oracle replays all training rounds in DuckDB as
  MATERIALIZED CTEs, so the learned merge sequence itself is
  value-verified (plus the unit-test pins).
- ``apply_bpe_merges`` applies a FIXED merge list map-only — pure
  Catalyst (higher-order ``transform`` over the word array with nested
  literal ``replace`` calls), no shuffle, no Python, and 1:1
  SQL-expressible, so the application gate is hash-verified against
  DuckDB (the q109/q110 fixed-constant pattern).

Scale: application is embarrassingly parallel (map-only). Learning
aggregates the corpus ONCE into the word-frequency table (one shuffle);
each merge round is a pair-count groupBy over distinct words (partial
aggregated) + a 1-row TakeOrdered — at 100 TB the word table is ~10⁷
rows regardless of corpus size, so rounds are cheap and constant-cost.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aeon_mecha_spark.functions.text import shifted_slices, tokens
from aeon_mecha_spark.util import spread, track_cached


def _char_spaced(word: Column) -> Column:
    """``'abc' -> ' a  b  c '`` — the symbol string BPE merges operate
    on. Every symbol carries its OWN leading and trailing space (so
    adjacent symbols are separated by exactly two spaces). Because no
    two pair occurrences share a boundary character, a single
    left-to-right ``replace`` per merge rule finds ALL adjacent
    occurrences — e.g. ``'aaaa'`` with merge ``(a,a)`` becomes
    ``[aa, aa]``, matching greedy reference BPE, where a single-space
    encoding would under-merge to ``[aa, a, a]`` (the trailing
    boundary space of one match is the leading space of the next)."""
    return F.regexp_replace(word, "(.)", " $1 ")


def _apply_merges(sym_str: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply the merge list in order as literal left-to-right replaces
    over the double-space symbol encoding. With non-overlapping match
    windows a single pass per rule IS the greedy fixpoint: a new
    occurrence of rule (l, r) spanning a replacement boundary would
    require r (or l) to be a prefix/suffix of ``l+r`` of the same
    length, which is impossible for non-empty symbols. Identical in
    any engine because ``replace`` is scan-order-deterministic."""
    s = sym_str
    for left, right in merges:
        s = F.replace(s, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} "))
    return s


def apply_bpe_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize each document with a FIXED BPE merge list and report the
    resulting token count — the "how many tokens is this corpus under
    tokenizer X" accounting pass that sizes training runs and prices
    data, plus the per-doc compression ratio in exact ppm
    (``bpe_tokens·10⁶ div chars``; lower = more compressible/regular).

    Map-only: the merge loop is unrolled into nested literal
    ``replace`` calls inside a higher-order ``transform`` over the
    word array — no explode, no shuffle, no Python; whole-stage
    codegen end to end. Word boundaries are hard (merges never cross
    whitespace), matching standard BPE pre-tokenization.

    Output: ``(id, n_words, n_chars, n_bpe_tokens, ratio_ppm)``; docs
    with no tokens produce no row.
    """
    words = tokens(F.col(text_col))
    per_word = F.transform(
        words,
        lambda w: F.size(F.split(F.trim(_apply_merges(_char_spaced(w), merges)), r"\s+")),
    )
    chars = F.aggregate(
        F.transform(words, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )
    toks = F.aggregate(per_word, F.lit(0).cast("long"), lambda a, x: a + x)
    return (
        spread(docs)
        .select(
            F.col(id_col),
            F.size(words).cast("long").alias("n_words"),
            chars.alias("n_chars"),
            toks.alias("n_bpe_tokens"),
        )
        .filter(F.col("n_words") > 0)
        .withColumn(
            "ratio_ppm",
            F.expr(
                "CAST((CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000) "
                "div CAST(n_chars AS DECIMAL(38,0)) AS BIGINT)"
            ),
        )
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """``(_p struct<l, r>, _c)``: each adjacent symbol pair of the word
    table ``(_syms, _n)``, weighted by word frequency. ``_syms`` is in
    the padded double-space encoding, whose inter-symbol separator is
    exactly two spaces, so a literal "  " split recovers the symbol
    array; it is split once per word into ``_a``, and the pairs are two
    shifted slices of it zipped."""
    left, right = shifted_slices(F.col("_a"), 2)
    return (
        words.select(F.split(F.trim(F.col("_syms")), "  ").alias("_a"), "_n")
        .filter(F.size("_a") >= 2)
        .select(F.explode(F.arrays_zip(left.alias("l"), right.alias("r"))).alias("_p"), "_n")
        .groupBy("_p")
        .agg(F.sum("_n").alias("_c"))
    )


def bpe_learn(
    docs: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus (action: one
    pair-count TakeOrdered collect per round, like k-means' centroid
    hops).

    Classic Sennrich training on the distinct-word frequency table:
    each round counts adjacent symbol pairs weighted by word frequency,
    merges the globally most frequent pair (ties broken by (left,
    right) symbol order — fully deterministic), and rewrites the word
    table. Stops early when the best pair's count drops below
    ``min_count``. The evolving word table is persisted per round
    (``track_cached``) so round k doesn't recompute rounds 1..k-1;
    generations stay cached until the loop ends (round 10 — the
    per-round materialization ``count()`` was a spare job wave; the
    word table is vocabulary-sized, so ≤ n_merges cached generations
    cost KBs/MBs) and all unpersist together in the ``finally``.

    Scale: the word table is |vocabulary| rows whatever the corpus
    size — the corpus is touched exactly once (one explode +
    groupBy). Run on the full corpus or a hash-sampled slice; the
    merge list is tiny either way.

    Output (driver-materialized literal, like ``pq_train``'s codebook):
    ``(rank, left, right, pair_count)``.
    """
    spark = docs.sparkSession
    word_freq = (
        spread(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("_w"))
        .filter(F.col("_w") != "")
        .groupBy("_w")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .select(_char_spaced(F.col("_w")).alias("_syms"), "_n")
    )
    cur = word_freq.persist(StorageLevel.MEMORY_ONLY)
    track_cached(cur)
    held: list[DataFrame] = []
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(1, int(n_merges) + 1):
            best = (
                _pair_counts(cur)
                .orderBy(F.col("_c").desc(), F.col("_p.l").asc(), F.col("_p.r").asc())
                .limit(1)
                .collect()
            )
            if not best or best[0]["_c"] < min_count:
                break
            left, right = best[0]["_p"]["l"], best[0]["_p"]["r"]
            merges.append((rank, left, right, int(best[0]["_c"])))
            nxt = cur.select(
                F.replace(
                    F.col("_syms"),
                    F.lit(f" {left}  {right} "),
                    F.lit(f" {left}{right} "),
                ).alias("_syms"),
                "_n",
            ).persist(StorageLevel.MEMORY_ONLY)
            track_cached(nxt)
            # round 10: no per-round materialization count — the next
            # round's pair-count collect materializes nxt through the
            # still-cached parent; parents unpersist together at the end
            # (the word table is vocabulary-sized, so holding ≤ n_merges
            # generations cached is KBs/MBs, not a memory risk)
            held.append(cur)
            cur = nxt
    finally:
        cur.unpersist()
        for h in held:
            h.unpersist()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )
