"""Text quality scoring, language-ID heuristics, token counting, and
document fingerprinting over a ``documents`` table.

Everything is a Catalyst expression over functions/text.py — one pass,
no shuffle (per-document map work), column-pruned to the text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from aeon_mecha_spark.functions.hashing import md5_long
from aeon_mecha_spark.util import spread
from aeon_mecha_spark.functions.text import (
    char_count,
    mean_token_len,
    normalize_text,
    punct_ratio,
    shifted_slices,
    stopword_ratio,
    token_count,
    token_ngrams,
    tokens,
    word_shingles,
)

# Per-language marker words for the n-gram/stopword language-ID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "a"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "de", "que", "los", "las"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "在", "了", "和"],
}


def quality_features(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc quality features: length, token count, punctuation ratio,
    stopword ratio, mean token length + a composite [0,1] quality score
    (monotone heuristic: long-enough, low punctuation, some stopwords)."""
    t = F.col(text_col)
    n_tok = token_count(t)
    feats = spread(docs).select(
        F.col(id_col),
        char_count(t).alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(mean_token_len(t), 6).alias("mean_token_len"),
    )
    score = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.3
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.2
    )
    return feats.withColumn("quality_score", F.round(score, 6))


def lang_scores(text: Column, markers: dict[str, list[str]] | None = None) -> dict[str, Column]:
    """Marker-hit-count per language over lowercased tokens."""
    markers = markers or LANG_MARKERS
    toks = tokens(F.lower(text))
    out = {}
    for lang, words in markers.items():
        arr = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Predicted language = argmax marker score, 'und' when all zero.
    Deterministic tie-break: language list order."""
    scores = lang_scores(F.col(text_col))
    best = F.lit("und")
    best_score = F.lit(0)
    # iterate in fixed order; strictly-greater keeps first-wins ties
    for lang, s in scores.items():
        cond = s > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return spread(docs).select(
        F.col(id_col),
        *[s.alias(f"score_{lang}") for lang, s in scores.items()],
        best.alias("pred_lang"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprints: normalized-text MD5 (fuzzy-exact identity)
    + a 60-bit integer content hash for compact storage/joins."""
    norm = normalize_text(F.col(text_col))
    return spread(docs).select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint_md5"),
        md5_long(norm).alias("fingerprint_long"),
    )


def term_counts(
    docs: DataFrame, keys: list[str] | None = None, text_col: str = "text"
) -> DataFrame:
    """(keys…, term, n) long table of lowercased whitespace-token counts.

    One explode + one hash-groupBy with map-side partial counts — the
    shuffle carries (key, term) partials, not the token stream. The
    canonical first stage of vocabulary / Zipf / top-terms analyses.
    """
    keys = list(keys or [])
    toks = spread(docs).select(
        *keys, F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    return toks.groupBy(*keys, "term").agg(F.count(F.lit(1)).alias("n"))


def top_terms(
    docs: DataFrame, k: int = 5, keys: list[str] | None = None, text_col: str = "text"
) -> DataFrame:
    """Top-k most frequent terms per key group with a deterministic
    (count desc, term asc) order. The ranking window runs over the
    already-aggregated count table (vocabulary-sized, not corpus-sized);
    Spark's WindowGroupLimit pushes the k cutoff below the sort."""
    keys = list(keys or [])
    counts = term_counts(docs, keys, text_col)
    w = (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy(
        F.col("n").desc(), F.col("term").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def tfidf(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    log_idf: bool = True,
) -> DataFrame:
    """Per-(doc, term) TF-IDF weights: ``(id, term, tf, df, tfidf)``.

    tf = in-document term count, df = number of documents containing the
    term, n_docs = corpus size — computed as a 1-row aggregate that is
    broadcast (no driver-side action, no ``count()`` round trip). Two idf
    forms:

    - ``log_idf=True`` (default): ``ln((n+1)/(df+1)) + 1`` — the smoothed
      log form; ``ln`` may differ by 1 ulp across engines, so gates use:
    - ``log_idf=False``: raw rarity ratio ``n/df`` — long→double casts and
      one IEEE division, bit-identical in any engine, oracle-exact.

    Plan shape: tokenize-once explode → (doc, term) hash groupBy with
    map-side partials (tf) → vocabulary groupBy (df) → hash join on term.
    The df table is vocabulary-sized — orders smaller than the corpus —
    so AQE broadcasts it when it fits; nothing corpus-sized shuffles
    twice. Mirrors the per-term statistics the reference computes only as
    pandas post-processing (aeon/analysis/utils.py — per-key value
    counts), lifted to a distributed plan.
    """
    tf = term_counts(docs, keys=[id_col], text_col=text_col).withColumnRenamed(
        "n", "tf"
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).cast("long").alias("_n_docs"))
    joined = tf.join(dft, "term").join(F.broadcast(n_docs))
    n = F.col("_n_docs").cast("double")
    d = F.col("df").cast("double")
    if log_idf:
        idf = F.log((n + F.lit(1.0)) / (d + F.lit(1.0))) + F.lit(1.0)
    else:
        idf = n / d
    return joined.select(
        id_col,
        "term",
        "tf",
        "df",
        (F.col("tf").cast("double") * idf).alias("tfidf"),
    )


def inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Term → ``(df, postings)`` inverted index; postings is the sorted
    comma-joined document-id list (engine-portable string form of the
    posting array).

    Plan shape: explode → map-side-partial dropDuplicates on
    (term, doc) → ONE hash groupBy on term. Posting-list size is bounded
    by per-term df: at 100 TB, stopword-grade terms produce multi-GB
    postings in ANY engine — shard those by doc-id range (groupBy
    (term, id mod S)) or store df-only rows for terms above a df cap;
    frequency queries go through the count-min path (sketch.cm_partial)
    instead of postings.
    """
    pairs = (
        spread(docs)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .dropDuplicates(["term", "_id"])
    )
    postings = F.array_join(
        F.transform(F.array_sort(F.collect_list("_id")), lambda x: x.cast("string")),
        ",",
    )
    return pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        postings.alias("postings"),
    )


def ngram_counts(docs: DataFrame, k: int = 2, text_col: str = "text") -> DataFrame:
    """(ngram, n) global k-word-shingle frequency over lowercased text.
    Documents shorter than k tokens are dropped (no partial shingle).
    Same explode→groupBy shape as term_counts."""
    lt = F.lower(F.col(text_col))
    base = spread(docs).select(lt.alias("_lt")).filter(F.size(tokens(F.col("_lt"))) >= k)
    grams = base.select(F.explode(word_shingles(F.col("_lt"), k)).alias("ngram"))
    return grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))


def token_entropy(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Shannon entropy of each document's token distribution (nats) — a
    cheap perplexity proxy: boilerplate/template text scores low,
    natural prose high; filter low-entropy docs alongside
    repetition_ratio in a quality pipeline.

    Uses H = ln(n) − (Σ c·ln c)/n with the Σ carried as an INTEGER sum
    of micro-nat contributions (floor(c·ln c·1e6 + 0.5)): integer sums
    are associative, so the result is independent of partitioning and
    identical across engines — a raw double Σ would vary with Spark's
    partial-agg order and could never hash-match an oracle. One
    explode + two groupBys (both map-side combinable); docs with no
    tokens produce no row.
    Output: ``(id, n_tokens, n_terms, entropy)`` (entropy at 6 dp).
    """
    tf = (
        spread(docs)
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
        .groupBy(id_col, "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    c = F.col("_c").cast("double")
    contrib = F.floor(c * F.log(c) * F.lit(1000000.0) + F.lit(0.5))
    per = tf.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(contrib).cast("long").alias("_s"),
    )
    n = F.col("n_tokens").cast("double")
    ent = F.round(F.log(n) - (F.col("_s").cast("double") / F.lit(1000000.0)) / n, 6)
    return per.select(id_col, "n_tokens", "n_terms", ent.alias("entropy"))


def vocab_encode(
    docs: DataFrame,
    vocab_size: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize-to-ids: build the top-``vocab_size`` frequency vocabulary
    (rank by count desc, term asc — fully deterministic) and encode every
    document as ``(id, pos, token_id)`` long-form rows, OOV terms as id
    0, in-vocab ids 1..V by rank. The final corpus-to-training-ids step
    once curation is done; long form keeps it engine-checkable and
    re-packable by any downstream layout.

    Plan: one posexplode; the vocab is a ≤V-row table built with one
    groupBy + TakeOrdered-style rank and BROADCAST back onto the token
    stream, so the corpus never shuffles on the token for encoding —
    at 100 TB the big side is touched exactly twice, map-side both
    times after the tiny vocab materializes.
    """
    toks = spread(docs).select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select(
            "tok",
            F.row_number()
            .over(W.orderBy(F.col("n").desc(), F.col("tok").asc()))
            .cast("long")
            .alias("token_id"),
        )
    )
    return toks.join(F.broadcast(vocab), "tok", "left").select(
        F.col(id_col),
        F.col("pos").cast("long").alias("pos"),
        F.coalesce("token_id", F.lit(0).cast("long")).alias("token_id"),
    )


def unigram_logprob(
    docs: DataFrame,
    vocab_size: int = 256,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram language-model score per document — the CCNet-style
    LM-perplexity quality proxy, with the LM trained on the corpus
    itself in the same plan: additive-smoothed unigram probabilities
    over the deterministic top-``vocab_size`` vocabulary,
    ``p(tok) = (c + α) / (N + α·(V+1))``, every out-of-vocab token
    sharing the single smoothed mass ``α / (N + α·(V+1))``. Documents
    scoring far below the corpus mode are boilerplate/garbage; far
    above, degenerate repetition — both standard curation cuts.

    Output: ``(id, n_tokens, n_oov, logprob_per_token)`` (mean natural
    log-probability per token, 6 dp); docs with no tokens produce no
    row.

    Engine parity: each token's log-probability is carried as an
    INTEGER micro-nat (floor(ln(p)·1e6 + 0.5)) exactly like
    token_entropy — integer sums are associative, so the per-doc sum is
    partition- and engine-independent, and a last-ulp libm ln
    divergence only matters within half a micro-nat of a boundary.
    The per-token mean is ALSO rounded in integer space:
    ``S/n`` micro-nats lands on exact .5 boundaries whenever n divides
    2S oddly (measured: 1 doc in 500), where float round(…, 6) is
    engine-dependent — so the mean micro-nat is
    ``floor((2S + n) / (2n))`` (half-up), computed on integers that
    doubles represent exactly (|2S+n| < 2⁵³ holds through ~10¹⁴
    micro-nats ≈ a 10M-token doc), then scaled by 1e-6.

    Plan: one explode; counts + total by map-side-combinable groupBys;
    vocab is a ≤V-row TakeOrdered (count desc, term asc — no global
    window) joined with the 1-row total; the corpus re-joins the tiny
    model BROADCAST on the token, so the big side never shuffles on the
    token; final per-doc groupBy is the only big exchange.
    """
    toks = spread(docs).select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
    cnt = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
    # total straight off the token stream (map-side partial count).
    # The duplicated subtrees this plan contains (totals twice, toks
    # under both cnt and the probe) are collapsed by exchange reuse —
    # measured: persisting cnt instead ADDS a materialization barrier
    # and runs ~40% slower at sf0.1, so the "obvious" cache is a loss
    totals = toks.agg(F.count(F.lit(1)).cast("long").alias("_N"))
    vocab = (
        cnt.orderBy(F.col("_c").desc(), F.col("_tok").asc())
        .limit(vocab_size)
        .crossJoin(F.broadcast(totals))
    )
    denom = F.col("_N").cast("double") + F.lit(float(alpha)) * F.lit(float(vocab_size + 1))
    lp = F.floor(
        F.log((F.col("_c").cast("double") + F.lit(float(alpha))) / denom) * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    model = vocab.select("_tok", lp.alias("_lp"))
    lp_oov = F.floor(
        F.log(F.lit(float(alpha)) / denom) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    scored = (
        toks.join(F.broadcast(model), "_tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.when(F.col("_lp").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("_oov"),
            F.coalesce(F.col("_lp"), lp_oov).alias("_lpx"),
        )
    )
    per = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("_oov").cast("long").alias("n_oov"),
        F.sum("_lpx").cast("long").alias("_s"),
    )
    s_d = F.col("_s").cast("double")
    n_d = F.col("n_tokens").cast("double")
    mean_micro = F.floor((F.lit(2.0) * s_d + n_d) / (F.lit(2.0) * n_d))
    mean_lp = mean_micro.cast("double") / F.lit(1000000.0)
    return per.select(id_col, "n_tokens", "n_oov", mean_lp.alias("logprob_per_token"))


def perplexity_buckets(
    docs: DataFrame,
    vocab_size: int = 256,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020): score every
    document with the corpus-trained LM (:func:`unigram_logprob`),
    order by per-token log-probability (best first), and split the
    corpus into head / middle / tail by TOKEN-MASS thirds — head is
    the cleanest third of the tokens, tail the noisiest; CCNet keeps
    head+middle (or reweights). Bucket boundaries are exact integer
    comparisons: a document whose cumulative-mass START position s
    satisfies ``3·s < T`` is head, ``3·s < 2T`` middle, else tail —
    no float share ever computed.

    Plan: unigram_logprob's plan (one explode, broadcast model, one
    per-doc groupBy), then the shared two-level distributed prefix sum
    over the distinct mean-log-prob GRAIN (``_grain_prefix``, never a
    corpus-wide single-partition window), broadcast-free join back on
    the grain value. Ties (equal mean log-prob) land in one grain row,
    so every tied document gets the same bucket — deterministic in any
    engine. Output: ``(id, n_tokens, logprob_per_token, bucket)``.
    """
    from aeon_mecha_spark.operators.analytics import _grain_prefix

    scored = unigram_logprob(docs, vocab_size, alpha, id_col, text_col)
    # recover the exact integer micro-nat mean (the double is k/1e6 by
    # construction, so the round-trip is exact)
    s = scored.withColumn(
        "_lp", F.round(F.col("logprob_per_token") * 1e6).cast("long")
    )
    grain = (
        s.groupBy("_lp")
        .agg(F.sum("n_tokens").cast("long").alias("_tok"))
        .persist()
    )
    pre = _grain_prefix(grain, "_lp", ["_tok"], ascending=False, buckets=1024)
    buckets = pre.select(
        "_lp",
        (F.col("_cum_tok") - F.col("_tok")).alias("_start"),
        F.col("_tot_tok").alias("_total"),
    ).select(
        "_lp",
        F.when(F.col("_start") * 3 < F.col("_total"), F.lit("head"))
        .when(F.col("_start") * 3 < 2 * F.col("_total"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    from aeon_mecha_spark.util import track_cached

    out = s.join(buckets, "_lp").select(
        id_col, "n_tokens", "logprob_per_token", "bucket"
    )
    # the persisted grain feeds _grain_prefix; hand callers the release
    # handle (analytics convention) so it doesn't pin executor storage
    return track_cached(out, grain)


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed query-term set
    — the retrieval scorer on top of the ``tfidf``/``inverted_index``
    machinery (and the standard lexical half of RAG retrieval):

    ``score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))``
    with the Robertson–Spärck Jones idf
    ``ln(1 + (N−df+0.5)/(df+0.5))``.

    Output: ``(id, n_terms_hit, score)`` for documents matching ≥ 1
    query term, with ``score`` rounded to 6 dp (ln is libm-rounded; the
    q131 gate relies on the same-expression-tree agreement the q112
    unigram gate already demonstrates for ln).

    Plan: term stats restrict to the QUERY terms before any join — the
    per-term df/tf tables collapse to |query| rows/doc-hits, the (tiny)
    df + corpus-stats tables broadcast, and the corpus is tokenized
    once map-side. Nothing corpus-sized shuffles except the per-(doc,
    term) tf partials for matching terms.
    """
    qlit = [F.lit(t) for t in query_terms]
    tf_all = term_counts(docs, keys=[id_col], text_col=text_col).withColumnRenamed(
        "n", "tf"
    )
    tf = tf_all.filter(F.col("term").isin(query_terms))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    stats = docs.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("_n_docs"),
        F.sum(token_count(F.col(text_col)).cast("long")).alias("_total_tokens"),
    )
    dlen = spread(docs).select(
        F.col(id_col), token_count(F.col(text_col)).cast("long").alias("_dl")
    )
    n = F.col("_n_docs").cast("double")
    d = F.col("df").cast("double")
    idf = F.log(
        F.lit(1.0) + (n - d + F.lit(0.5)) / (d + F.lit(0.5))
    )
    avgdl = F.col("_total_tokens").cast("double") / n
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / avgdl)
    contrib = idf * tfd * F.lit(k1 + 1.0) / denom
    return (
        tf.join(F.broadcast(dft), "term")
        .join(dlen, id_col)
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.round(F.sum(contrib), 6).alias("score"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 5,
    top_n: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Collocation (phrase) mining by pointwise mutual information over
    word bigrams — the corpus statistic behind multi-word-expression
    discovery and tokenizer-merge candidates.

    Rather than computing ``log(p(ab)/(p(a)p(b)))`` in floats (libm log
    is not correctly rounded, so two engines can disagree at a rounding
    boundary), the score is the EXACT linearized PMI in parts-per-
    million: ``score = (c_ab · N² · 10⁶) div (M · c_a · c_b)`` carried
    in decimal(38,0) integral arithmetic — the same monotone ordering
    as PMI, deterministic on any engine. The decimal width bounds the
    corpus at ~10¹⁰ tokens; past that, pre-scale the counts (rounding
    error then bounded by the scaling factor, the ordering unaffected
    for well-separated scores).

    Plan: one tokenize pass each for unigram/bigram count tables (both
    map-side combinable), the two 1-row totals broadcast, bigrams join
    their component unigram counts on the term key, then a TakeOrdered
    top-``top_n`` by (score desc, ngram) — a total order, so the cut
    is deterministic. Shuffles carry count tables, never the token
    stream.

    Output: ``(ngram, c12, c1, c2, score)``, ``score`` bigint ppm.
    """
    uni = term_counts(docs, text_col=text_col)
    big = ngram_counts(docs, k=2, text_col=text_col)
    totals = uni.agg(F.sum("n").cast("decimal(38,0)").alias("_N")).crossJoin(
        big.agg(F.sum("n").cast("decimal(38,0)").alias("_M"))
    )
    f = (
        big.filter(F.col("n") >= min_count)
        .select(
            "ngram",
            F.col("n").alias("c12"),
            F.split_part(F.col("ngram"), F.lit(" "), F.lit(1)).alias("_w1"),
            F.split_part(F.col("ngram"), F.lit(" "), F.lit(2)).alias("_w2"),
        )
    )
    u1 = uni.select(F.col("term").alias("_w1"), F.col("n").alias("c1"))
    u2 = uni.select(F.col("term").alias("_w2"), F.col("n").alias("c2"))
    j = f.join(u1, "_w1").join(u2, "_w2").crossJoin(F.broadcast(totals))
    score = F.expr(
        "CAST(CAST(c12 AS DECIMAL(38,0)) * _N * _N * 1000000 "
        "div (_M * CAST(c1 AS DECIMAL(38,0)) * CAST(c2 AS DECIMAL(38,0))) AS BIGINT)"
    )
    scored = j.select(
        "ngram",
        F.col("c12").cast("long").alias("c12"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        score.alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("ngram")).limit(top_n)


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    app. A1.1, adapted to whitespace tokens): the fraction of token /
    2-gram / 3-gram occurrences that repeat an earlier occurrence, plus
    the share of the document covered by its single most frequent
    bigram. High values mark boilerplate, spam, and looping generations
    — the standard pre-training repetition cut, finer-grained than the
    single shingle score of ``curation.repetition_ratio``.

    All ratios are exact integers in parts-per-million (``div`` floor
    division on longs), so any engine reproduces them bit-for-bit —
    no float rounding at a filter threshold.

    Plan: the dup-fraction family is pure per-row map work
    (``array_distinct`` inside codegen — no shuffle). The top-bigram
    mode needs per-(doc, gram) counts: explode → partial-aggregated
    ``groupBy(doc, gram)`` → top-1 window partitioned by doc → a
    doc-keyed join back. Every shuffle is keyed by ``doc_id``, so
    parallelism scales with the corpus; no global operator anywhere.

    Output: ``(id, n_tokens, dup_token_frac_ppm, dup_2gram_frac_ppm,
    dup_3gram_frac_ppm, top_bigram, top_bigram_count,
    top_bigram_frac_ppm)``.
    """
    toks = F.col("_t")
    n_tok = F.size(toks)

    def grams(k: int) -> Column:
        return F.when(n_tok >= k, token_ngrams(toks, k)).otherwise(
            F.array().cast("array<string>")
        )

    g2, g3 = grams(2), grams(3)
    tokenized = spread(docs).select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    base = tokenized.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("_d_tok"),
        F.size(g2).cast("long").alias("_n_g2"),
        F.size(F.array_distinct(g2)).cast("long").alias("_d_g2"),
        F.size(g3).cast("long").alias("_n_g3"),
        F.size(F.array_distinct(g3)).cast("long").alias("_d_g3"),
    )

    def ppm(dup: str, n: str) -> Column:
        # long div long → exact floor; never route ratios through doubles.
        return F.expr(f"CASE WHEN {n} > 0 THEN (({dup}) * 1000000L) div {n} ELSE 0L END")

    feats = base.select(
        id_col,
        "n_tokens",
        ppm("n_tokens - _d_tok", "n_tokens").alias("dup_token_frac_ppm"),
        ppm("_n_g2 - _d_g2", "_n_g2").alias("dup_2gram_frac_ppm"),
        ppm("_n_g3 - _d_g3", "_n_g3").alias("dup_3gram_frac_ppm"),
    )
    counts = (
        tokenized.select(F.col(id_col), F.explode(g2).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("top_bigram_count"))
    )
    w = W.partitionBy(id_col).orderBy(F.col("top_bigram_count").desc(), F.col("gram"))
    top = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("gram").alias("top_bigram"), "top_bigram_count")
    )
    out = feats.join(top, id_col, "left")
    return out.select(
        id_col,
        "n_tokens",
        "dup_token_frac_ppm",
        "dup_2gram_frac_ppm",
        "dup_3gram_frac_ppm",
        F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
        F.coalesce(F.col("top_bigram_count"), F.lit(0)).cast("long").alias("top_bigram_count"),
        F.expr(
            "CASE WHEN n_tokens > 0 THEN "
            "(coalesce(top_bigram_count, 0L) * 2000000L) div n_tokens ELSE 0L END"
        ).alias("top_bigram_frac_ppm"),
    )


def group_term_jaccard(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary overlap between document groups — exact
    Jaccard of each group pair's distinct-term sets, the corpus-mixture
    diagnostic ("how much does the German slice share vocabulary with
    the French one") that guides dedup scope and sampling mixtures.

    Plan: one shuffle builds the distinct (group, term) vocabulary;
    group sizes are a re-aggregation of it; the pair intersection is a
    self-join ON THE TERM KEY (per-term fanout is bounded by the group
    count, so a term contributes at most |G|²/2 pairs — never a
    corpus-sized cross product); sizes join back broadcast.
    ``jaccard_ppm = inter·10⁶ div (|A|+|B|−inter)`` — exact integers.

    Output: ``(g_a, g_b, inter, union_n, jaccard_ppm)`` with
    ``g_a < g_b``.
    """
    vt = (
        spread(docs)
        .select(F.col(group_col).alias("_g"), F.explode(tokens(F.col(text_col))).alias("_t"))
        .filter(F.col("_t") != "")
        .distinct()
    )
    sizes = vt.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("_sz"))
    a = vt.select(F.col("_g").alias("g_a"), "_t")
    b = vt.select(F.col("_g").alias("g_b"), "_t")
    inter = (
        a.join(b, "_t")
        .filter(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    out = (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("_g", "g_a").withColumnRenamed("_sz", "_sa")),
            "g_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("_g", "g_b").withColumnRenamed("_sz", "_sb")),
            "g_b",
        )
        .withColumn("union_n", F.col("_sa") + F.col("_sb") - F.col("inter"))
    )
    return out.select(
        "g_a",
        "g_b",
        "inter",
        "union_n",
        F.expr(
            "CAST((CAST(inter AS DECIMAL(38,0)) * 1000000) div union_n AS BIGINT)"
        ).alias("jaccard_ppm"),
    )


def feature_hash(
    docs: DataFrame,
    n_features: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML 2009): map tokens to a
    FIXED feature space by hash bucket, with a second hash bit deciding
    the sign — the vocabulary-free vectorizer that makes text features
    joinable/aggregable at any scale without a fitted dictionary.

    Output is the sparse long form ``(id, feature, value)`` (value =
    signed count; zero-sum buckets drop out), which downstream ops
    consume directly — ``corr_pairs``-style moments, cosine via a
    feature-keyed join, or a pivot to dense when n_features is small.
    MD5-based like every hash here, so buckets and signs are
    engine-portable and the gate hash-verifies.

    Plan: explode → map-side bucket/sign arithmetic → one (id, feature)
    groupBy (partial-aggregated). Feature cardinality is the fixed
    ``n_features``, whatever the vocabulary grows to.
    """
    h = md5_long(F.col("_tok"), seed=seed)
    toks = (
        spread(docs)
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
        .filter(F.col("_tok") != "")
    )
    signed = toks.select(
        F.col(id_col),
        (h % n_features).cast("int").alias("feature"),
        F.when((h % (2 * n_features)) >= n_features, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("_sgn"),
    )
    return (
        signed.groupBy(id_col, "feature")
        .agg(F.sum("_sgn").cast("long").alias("value"))
        .filter(F.col("value") != 0)
    )


def bigram_logprob(
    docs: DataFrame,
    vocab_size: int = 256,
    alpha: float = 0.5,
    lam: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated bigram language-model score per document — the
    next rung above :func:`unigram_logprob` on the CCNet-style quality
    ladder: a document's tokens can individually be common while their
    ORDER is garbage (shuffled scrapes, keyword stuffing), which only a
    conditional model sees.

    Per adjacent token pair ``(w1, w2)``:

        ``p = λ·c(w1,w2)/c(w1,·) + (1−λ)·p_uni(w2)``

    where the maximum-likelihood bigram term is 0 for unseen pairs
    (interpolation absorbs them — no bigram smoothing needed) and
    ``p_uni`` is the :func:`unigram_logprob` model over the
    second-token stream (additive-α over the deterministic top-``V``
    vocabulary, one shared OOV mass).

    Engine parity: ``c12``, ``c1``, ``c_u``, ``N`` are integers exactly
    representable as doubles; ``p`` is a fixed IEEE expression tree
    (+ − × ÷ are correctly rounded everywhere, so ``p`` is bit-identical
    in any engine), each position's ``ln(p)`` is floored half-up into an
    INTEGER micro-nat, integer-summed (associative →
    partition-independent), and the per-document mean uses the
    ``floor((2S+n)/(2n))`` half-up convention — the exact discipline of
    ``unigram_logprob``/``token_entropy``. Caveat (shared by every
    micro-nat gate since q112): ``ln`` itself is NOT required by IEEE
    754 to be correctly rounded — JVM ``Math.log`` and a libm may
    differ in the last ulp, flipping the half-up floor by 1 whenever
    ``ln(p)·10⁶`` lands within an ulp of ``k − ½``. Unobserved across
    all gates so far; a future ±1-µnat oracle red here should be
    triaged as libm ulp drift, not an engine bug.

    Plan: one explode builds the bigram stream; bigram and context
    counts are map-side-combinable groupBys; the model probe joins the
    stream on the BIGRAM KEY (key-bounded shuffle — the bigram table
    grows with the observed vocabulary², not the corpus, but is not
    broadcastable at 100 TB, so this is the one big-big equi-join);
    the unigram model is a ≤V-row TakeOrdered broadcast like q112. The
    final per-doc groupBy is the only other corpus-sized exchange.

    Output: ``(id, n_bigrams, n_unseen, logprob_per_bigram)``; docs
    with fewer than 2 tokens produce no row.
    """
    w1, w2 = shifted_slices(F.col("_t"), 2)
    bg = (
        spread(docs)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            F.col(id_col), F.explode(F.arrays_zip(w1.alias("_w1"), w2.alias("_w2"))).alias("_p")
        )
        .select(id_col, F.col("_p._w1").alias("_w1"), F.col("_p._w2").alias("_w2"))
    )
    c12 = bg.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).cast("long").alias("_c12"))
    c1 = bg.groupBy("_w1").agg(F.count(F.lit(1)).cast("long").alias("_c1"))
    ucnt = bg.groupBy("_w2").agg(F.count(F.lit(1)).cast("long").alias("_cu"))
    totals = bg.agg(F.count(F.lit(1)).cast("long").alias("_N"))
    vocab = (
        ucnt.orderBy(F.col("_cu").desc(), F.col("_w2").asc())
        .limit(int(vocab_size))
        .crossJoin(F.broadcast(totals))
    )
    a, v1 = float(alpha), float(alpha) * float(vocab_size + 1)
    denom = F.col("_N").cast("double") + F.lit(v1)
    model = vocab.select(
        "_w2", ((F.col("_cu").cast("double") + F.lit(a)) / denom).alias("_pu")
    )
    pu_oov = (F.lit(a) / (F.col("_N").cast("double") + F.lit(v1))).alias("_pu_oov")
    lam_d = float(lam)
    scored = (
        bg.join(c12, ["_w1", "_w2"], "left")
        .join(c1, "_w1")  # vocab-sized, keyed shuffle join (NOT broadcast at 100 TB)
        .join(F.broadcast(model), "_w2", "left")
        .crossJoin(F.broadcast(totals.select(pu_oov)))
        .select(
            F.col(id_col),
            F.when(F.col("_c12").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("_unseen"),
            F.floor(
                F.log(
                    F.lit(lam_d)
                    * (
                        F.coalesce(F.col("_c12"), F.lit(0)).cast("double")
                        / F.col("_c1").cast("double")
                    )
                    + F.lit(1.0 - lam_d) * F.coalesce(F.col("_pu"), F.col("_pu_oov"))
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("long").alias("_lp"),
        )
    )
    per = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("_unseen").cast("long").alias("n_unseen"),
        F.sum("_lp").cast("long").alias("_s"),
    )
    s_d, n_d = F.col("_s").cast("double"), F.col("n_bigrams").cast("double")
    mean_micro = F.floor((F.lit(2.0) * s_d + n_d) / (F.lit(2.0) * n_d))
    return per.select(
        id_col,
        "n_bigrams",
        "n_unseen",
        (mean_micro.cast("double") / F.lit(1000000.0)).alias("logprob_per_bigram"),
    )


def zipf_slope(
    docs: DataFrame,
    top_n: int = 1000,
    keys: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Zipf-law slope of the corpus frequency spectrum per key group:
    OLS slope of ``ln(count)`` against ``ln(rank)`` over the top-``n``
    terms (rank by count desc, term asc — deterministic). Natural text
    sits near −1; templated/boilerplate corpora flatten toward 0 and
    tokenizer pathologies steepen past −1.5 — a one-number corpus-shape
    QC beside ``token_entropy``'s per-document view.

    Exactness: each log is computed ONCE per term on exact integers and
    floored to micro-nats (``floor(ln(·)·10⁶ + 0.5)`` — the
    ``token_entropy`` discipline), then the OLS runs entirely on
    integer micro-nat pairs via the moment form ``slope = (nΣxy − ΣxΣy)
    / (nΣx² − (Σx)²)`` in decimal(38,0) with one signed floor division
    to ppm. Associative sums, identical in any engine.

    Plan: ``term_counts``'s one explode + hash groupBy (corpus-sized,
    map-side combined) → a ≤n-row ranked head per key (window over the
    vocabulary-sized count table; WindowGroupLimit pushes the cutoff
    below the sort) → one tiny aggregate. The corpus shuffles once; the
    regression sees at most ``n`` rows per key.
    Output: ``(keys…, n_terms, slope_ppm)``.
    """
    keys = list(keys or [])
    counts = term_counts(docs, keys, text_col)
    if keys:
        # WindowGroupLimit pushes the k cutoff below the per-key sort
        w = W.partitionBy(*keys).orderBy(F.col("n").desc(), F.col("term").asc())
        head = counts.withColumn("_r", F.row_number().over(w)).filter(
            F.col("_r") <= int(top_n)
        )
    else:
        # global head: TakeOrderedAndProject (distributed top-k, no
        # vocabulary-wide single-partition sort); the rank window then
        # runs over <= top_n rows by construction
        head = (
            counts.orderBy(F.col("n").desc(), F.col("term").asc())
            .limit(int(top_n))
            .withColumn(
                "_r",
                F.row_number().over(
                    W.orderBy(F.col("n").desc(), F.col("term").asc())
                ),
            )
        )
    lx = F.floor(F.log(F.col("_r").cast("double")) * F.lit(1000000.0) + F.lit(0.5))
    ly = F.floor(F.log(F.col("n").cast("double")) * F.lit(1000000.0) + F.lit(0.5))
    pts = head.select(
        *keys,
        lx.cast("decimal(38,0)").alias("_x"),
        ly.cast("decimal(38,0)").alias("_y"),
    )
    g = pts.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    return g.select(
        *keys,
        "n_terms",
        F.expr(
            "CAST(CASE WHEN n_terms * _sxx - _sx * _sx > 0 THEN "
            "sign(n_terms * _sxy - _sx * _sy) * "
            "((abs(n_terms * _sxy - _sx * _sy) * 1000000) div "
            "(n_terms * _sxx - _sx * _sx)) END AS BIGINT)"
        ).alias("slope_ppm"),
    )


def heaps_curve(
    docs: DataFrame,
    checkpoints: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-term count V(c) at
    ``checkpoints`` evenly spaced corpus positions c — the curve whose
    log-log slope (Heaps' β, typically 0.4–0.6 for natural text) sizes
    tokenizer vocabularies and detects template/synthetic corpora
    (β → 0 saturates, β → 1 never repeats). Fit the slope downstream
    with the ``zipf_slope`` integer-OLS discipline if one number is
    wanted; the curve is the auditable artifact.

    Construction: global token positions come from per-document token
    counts (doc-grain) cumulated in ``id_col`` order — the shared
    two-level bucketed prefix sum (``_grain_prefix``, §13: never a
    corpus-wide single-partition window, 1024-way parallel at any doc
    count) — plus ``posexplode`` within the document; each term's
    FIRST position is a min; V(c) counts firsts ≤ c. Checkpoints are
    exact integer ``(N·j) div K``. Every quantity is an integer count
    — engine-identical by construction.

    Plan: one posexplode + one term-grain min + the doc-grain two-level
    prefix sum + K conditional sums in a single aggregate. The corpus
    shuffles once on the term. NOTE: ``_grain_prefix`` persists the
    doc-length table (two readers). Output:
    ``(j, checkpoint_pos, vocab)`` — K rows, ordered by j; empty
    corpus → no rows.
    """
    from aeon_mecha_spark.operators.analytics import _grain_prefix

    k = int(checkpoints)
    base = spread(docs).select(
        F.col(id_col).alias("_id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    doc_lens = base.select("_id", F.size("_toks").cast("long").alias("_len"))
    offs = _grain_prefix(
        doc_lens, "_id", ["_len"], ascending=True, buckets=1024,
        grain_count=1 << 62,  # lazy: always-bucketed (doc ids are dense)
    ).select(
        "_id", "_len", (F.col("_cum_len") - F.col("_len")).alias("_off")
    )
    toks = base.join(offs.select("_id", "_off"), "_id").select(
        "_off", F.posexplode("_toks").alias("_pos", "_term")
    )
    firsts = toks.select(
        "_term", (F.col("_off") + F.col("_pos") + 1).alias("_gp")
    ).groupBy("_term").agg(F.min("_gp").cast("long").alias("_first"))
    tot = doc_lens.agg(F.sum("_len").cast("long").alias("_n"))
    j = firsts.crossJoin(F.broadcast(tot))
    aggs = []
    for i in range(1, k + 1):
        cp = F.expr(f"(_n * {i}) div {k}")
        aggs.append(
            F.sum(F.when(F.col("_first") <= cp, 1).otherwise(0))
            .cast("long")
            .alias(f"_v{i}")
        )
    row = j.groupBy("_n").agg(*aggs)
    pairs = ", ".join(
        f"struct(CAST({i} AS BIGINT) AS j, "
        f"CAST((_n * {i}) div {k} AS BIGINT) AS checkpoint_pos, "
        f"_v{i} AS vocab)"
        for i in range(1, k + 1)
    )
    return row.selectExpr(f"inline(array({pairs}))").orderBy("j")


def vocab_coverage(
    docs: DataFrame,
    ks: list[int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary for a ladder of k —
    THE tokenizer-sizing table: what fraction of all corpus tokens does
    a k-term vocabulary cover (the remainder falls to OOV/byte
    fallback)? Exact ppm integers.

    Plan: one term-count groupBy (corpus shuffles once), a
    TakeOrderedAndProject head of max(ks) rows (never a vocabulary-wide
    single-partition sort), a ≤max(ks)-row rank window, then one tiny
    conditional aggregate per ladder rung against the 1-row total.
    Deterministic head order: (count desc, term asc).
    Output: ``(k, covered, total, coverage_ppm)`` ordered by k.
    """
    ladder = sorted(int(x) for x in (ks or [256, 1024, 4096, 16384]))
    counts = term_counts(docs, [], text_col)
    head = (
        counts.orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(ladder[-1])
        .withColumn(
            "_r",
            F.row_number().over(W.orderBy(F.col("n").desc(), F.col("term").asc())),
        )
    )
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    aggs = [
        F.sum(F.when(F.col("_r") <= k, F.col("n")).otherwise(0))
        .cast("long")
        .alias(f"_c{k}")
        for k in ladder
    ]
    row = head.crossJoin(F.broadcast(tot)).groupBy("total").agg(*aggs)
    pairs = ", ".join(
        f"struct(CAST({k} AS BIGINT) AS k, _c{k} AS covered)" for k in ladder
    )
    return (
        row.selectExpr(f"inline(array({pairs}))", "total")
        .select(
            "k",
            "covered",
            "total",
            F.expr(
                "CAST(CASE WHEN total > 0 THEN "
                "(CAST(covered AS DECIMAL(38,0)) * 1000000) div total "
                "END AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("k")
    )
