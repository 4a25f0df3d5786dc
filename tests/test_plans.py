"""Physical-plan regression tests — the scale properties that make these
operators viable at 100 TB, pinned so refactors can't silently lose them:
filter pushdown into parquet scans, column pruning, broadcast dim joins,
hash (not nested-loop) joins for equi+range conditions, WindowGroupLimit
top-k pushdown, partition pruning on the stream table."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

# These tests pin the UPSTREAM plan shape; the round-13
# checkpoint-before-sort wrapper compiles that shape behind a
# LogicalRDD, which would hide it from explain. Same operators execute
# either way — these tests read the plain-orderBy form (the same flag
# tools/plan_audit.py sets, verified row-for-row identical). Scoped as
# an autouse fixture (r14, ADVICE): a module-level os.environ write at
# import leaked process-wide through pytest's collection, making every
# OTHER test module exercise the plain path instead of the shipped
# checkpoint path.


@pytest.fixture(autouse=True)
def _plain_sort_plans(monkeypatch):
    monkeypatch.setenv("AEON_AUDIT_PLAIN_SORT", "1")


def plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def entry(sf_dir):
    import __spark_entry__ as m

    return m


def test_q01_pushdown_and_pruning(spark, entry, sf_dir):
    p = plan_str(entry.queries()["q01_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]  # pruned
    assert "HashAggregate" in p  # partial+final agg (map-side combine)


def test_q06_all_dims_broadcast(spark, entry, sf_dir):
    p = plan_str(entry.queries()["q06_revenue_by_nation"](spark, sf_dir))
    # formatted plans list each node twice (tree + details) -> 2x3
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_q19_equi_range_is_hash_join(spark, entry, sf_dir):
    p = plan_str(entry.queries()["q19_interval_count"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q36_topk_pushes_window_group_limit(spark, entry, sf_dir):
    p = plan_str(entry.queries()["q36_knn_cosine"](spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_q18_asof_single_shuffle(spark, entry, sf_dir):
    """The as-of union-merge plan must shuffle each side once (union +
    one window exchange), never join."""
    p = plan_str(entry.queries()["q18_asof_join"](spark, sf_dir))
    assert "Join" not in p or "left_semi" in p.lower()  # no join operator at all
    assert p.count("Window") >= 1


def test_stream_table_partition_pruning(spark, tmp_path):
    """Date-ranged fetch_stream must prune chunk_date partitions."""
    import datetime as dt

    from pyspark.sql import Row

    from aeon_mecha_spark.pipeline import ingest

    rows = [
        Row(time=dt.datetime(2024, 1, d, h), v=float(d * 10 + h))
        for d in (1, 2, 3)
        for h in range(4)
    ]
    df = spark.createDataFrame(rows)
    t = ingest.write_stream_table(df, str(tmp_path), "pruned_stream")
    out = ingest.fetch_stream(
        spark, t, start=dt.datetime(2024, 1, 2), end=dt.datetime(2024, 1, 3)
    )
    p = plan_str(out)
    # the partition filter must reach the scan, tightly bounded to the
    # single relevant date (an exclusive midnight end must NOT read the
    # next day's partition)
    assert "PartitionFilters" in p
    assert ">= 2024-01-02" in p and "<= 2024-01-02" in p
    assert out.count() == 4


def test_q57_rollup_is_one_shuffle(spark, entry, sf_dir):
    """GROUPING SETS must expand inside a single aggregate: Expand +
    partial agg + ONE Exchange — not one pass per granularity."""
    p = plan_str(entry.queries()["q57_granularity_rollup"](spark, sf_dir))
    assert "Expand" in p
    assert p.count("Exchange") == 2  # one node (tree line + detail line)


def test_q59_twa_reuses_window_partitioning(spark, entry, sf_dir):
    """groupBy(user_id) after a user_id-partitioned window must NOT
    re-shuffle — one Exchange total."""
    p = plan_str(entry.queries()["q59_time_weighted_avg"](spark, sf_dir))
    assert p.count("Exchange") == 2  # a single Exchange node


def test_q63_kmv_prunes_with_window_group_limit(spark, entry, sf_dir):
    """The k-smallest-hash selection must push WindowGroupLimit so the
    shuffle carries ~k rows per group, not every distinct hash."""
    p = plan_str(entry.queries()["q63_kmv_distinct"](spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_q73_decontaminate_broadcasts_benchmark(spark, entry, sf_dir):
    """The benchmark shingle set must be the broadcast build side; the
    corpus must shuffle only for the per-doc count (never on the
    shingle), and nothing may degenerate to a nested-loop join."""
    p = plan_str(entry.queries()["q73_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_q75_stratified_sample_pushes_group_limit(spark, entry, sf_dir):
    """The n-per-stratum cutoff must push below the sort (partial
    WindowGroupLimit) so each task retains n rows per stratum before the
    exchange."""
    p = plan_str(entry.queries()["q75_stratified_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_q74_hash_sample_is_shuffle_free(spark, entry, sf_dir):
    """The deterministic hash sample is a pure map-side filter — no
    Exchange anywhere in the plan."""
    p = plan_str(entry.queries()["q74_hash_sample"](spark, sf_dir))
    assert "Exchange" not in p


def test_q88_tfidf_broadcasts_vocab_join(spark, entry, sf_dir):
    """The df (vocabulary) side must broadcast — the corpus-sized tf
    table never lands on a build side or re-shuffles for the join."""
    p = plan_str(entry.queries()["q88_tfidf"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_q90_token_budget_windows_are_bucket_partitioned(spark, entry, sf_dir):
    """The corpus-sized running sum must be partitioned by score bucket
    (parallel prefix sum); the only unpartitioned window is the tiny
    per-bucket offset table. Plan shape: every Window node that follows
    the full scan sorts by (_b, ...) inside a hashpartitioning(_b)
    exchange."""
    p = plan_str(entry.queries()["q90_token_budget"](spark, sf_dir))
    assert p.count("Window") >= 2
    assert "hashpartitioning(_b" in p  # the big window is bucket-parallel


def test_q91_shuffle_shards_window_partitioned_by_shard(spark, entry, sf_dir):
    """Per-shard position windows — no global sort, no single-partition
    window over the corpus."""
    p = plan_str(entry.queries()["q91_shuffle_shards"](spark, sf_dir))
    assert "hashpartitioning(shard" in p
    assert "SinglePartition" not in p


def test_q92_covariance_shuffles_only_partials(spark, entry, sf_dir):
    """The only exchange after the mapInPandas partials is the tiny
    (i, j) reduce — the vector table itself never shuffles (the one
    scan-side exchange is spread()'s round-robin repartition, which
    carries no sort and no join)."""
    p = plan_str(entry.queries()["q92_embedding_covariance"](spark, sf_dir))
    assert "ArrowEvalPython" in p or "MapInPandas" in p
    assert "hashpartitioning(i" in p
    assert "Join" not in p
    assert "Sort" not in p.replace("SortAggregate", "")


def test_q94_quantize_is_shuffle_free(spark, entry, sf_dir):
    """Map-only: posexplode + arithmetic, no exchange beyond spread()'s
    parallelism repartition (round-robin, no keys)."""
    p = plan_str(entry.queries()["q94_int8_quant"](spark, sf_dir))
    assert "hashpartitioning" not in p
    assert "Join" not in p and "Window" not in p


def test_q95_bloom_probe_is_broadcast_no_smj(spark, entry, sf_dir):
    """The bloom probe join must broadcast the (tiny, fixed-size) filter
    state; the corpus side must never sort-merge or shuffle on the
    shingle."""
    p = plan_str(entry.queries()["q95_bloom_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q96_weighted_sample_is_take_ordered(spark, entry, sf_dir):
    """Global weighted top-n must plan as TakeOrderedAndProject (per-
    partition heaps, no full sort, no exchange before the limit)."""
    p = plan_str(entry.queries()["q96_weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort operator


def test_q97_substring_dedup_no_quadratic_join(spark, entry, sf_dir):
    """Cross-doc gram matching must stay a hash join on the gram hash —
    never a cartesian/nested-loop pair blowup — and the gram table must
    be persisted so the explode isn't recomputed per consumer."""
    df = entry.queries()["q97_substring_dedup"](spark, sf_dir)
    p = plan_str(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "InMemoryTableScan" in p  # persist() reuse of the gram table
    df.sparkSession.catalog.clearCache()


def test_q98_subquery_is_decorrelated(spark, entry, sf_dir):
    """The correlated scalar subquery must be rewritten to one aggregate
    + one join (RewriteCorrelatedScalarSubquery) — never a per-row
    subquery re-execution."""
    plan = entry.queries()["q98_correlated_subquery"](spark, sf_dir)
    p = plan._jdf.queryExecution().executedPlan().toString()
    assert p.count("Subquery") == 0
    assert "HashAggregate" in p


def test_q105_span_surgery_no_nested_loop(spark, entry, sf_dir):
    """The token-vs-span anti-join carries equality + range conditions;
    it must stay a hash/sort-merge join on the doc key, never a
    nested-loop or cartesian pair blowup."""
    p = plan_str(entry.queries()["q105_span_decontaminate"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q76_pack_sequences_window_partitioned_by_shard(spark, entry, sf_dir):
    """Keyed packing must run one window PER SHARD KEY — a
    hashpartitioning(source) exchange, never a single-partition global
    window over the corpus (the unkeyed form is small-corpora only)."""
    p = plan_str(entry.queries()["q76_pack_sequences"](spark, sf_dir))
    assert "hashpartitioning(source" in p
    assert "SinglePartition" not in p


def test_q110_fixed_projection_is_shuffle_free(spark, entry, sf_dir):
    """The literal-components projection is map-only: coefficients live
    in the plan as constants — no Exchange, no UDF, no join."""
    p = plan_str(entry.queries()["q110_pca_project_fixed"](spark, sf_dir))
    assert "Exchange" not in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q111_winnowing_one_window_no_joins(spark, entry, sf_dir):
    """Winnowing is window machinery only: all four window expressions
    share one per-doc sort, and there is no join anywhere."""
    p = plan_str(entry.queries()["q111_winnowing"](spark, sf_dir))
    assert "Join" not in p
    assert "CartesianProduct" not in p
    # row_number/count + the two frame aggs collapse into window nodes
    # over a single exchange on the doc key (formatted plans put the
    # partitioning in the Arguments detail line)
    assert p.count("hashpartitioning(doc_id") <= 2  # window + distinct
    assert "hashpartitioning(doc_id" in p


def test_q112_unigram_model_broadcast_onto_tokens(spark, entry, sf_dir):
    """The LM join must broadcast the tiny model — the token stream
    never shuffles on the token."""
    p = plan_str(entry.queries()["q112_unigram_logprob"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the only token-keyed exchange is the vocabulary count groupBy;
    # the corpus total is a map-side count of the token stream and the
    # corpus-side scoring join reads the broadcast
    assert p.count("hashpartitioning(_tok") <= 1


def test_q113_multiprobe_no_cartesian(spark, entry, sf_dir):
    p = plan_str(entry.queries()["q113_ivf_multiprobe"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q114_grouped_quantiles_two_level_parallelism(spark, entry, sf_dir):
    """The gate runs the two-level ranked-selection path: the big sort
    is partitioned by (key, bucket) — parallelism keys×S instead of
    keys — the bucket-offset table is broadcast, and the only unkeyed
    window belongs to the bounded boundary sample."""
    p = plan_str(entry.queries()["q114_grouped_quantiles"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "hashpartitioning(l_returnflag, _b" in p.replace("#", " ").replace(
        "l_returnflag 8", "l_returnflag"
    ) or "hashpartitioning(l_returnflag" in p
    # the ranking window is keyed by BOTH the group and the bucket
    import re
    assert re.search(r"row_number\(\) windowspecdefinition\(l_returnflag#\d+, _b#\d+", p)
    assert "BroadcastHashJoin" in p  # the tiny offsets table
    assert "Generate" in p  # the |ps|-way map-side expansion


def test_q115_range_shard_corpus_never_shuffles(spark, entry, sf_dir):
    """Assignment is a 1-row boundary-array broadcast onto the corpus:
    the only exchanges belong to the tiny sample-side quantile window,
    never to the events scan."""
    p = plan_str(entry.queries()["q115_range_shard"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p  # the 1-row array broadcast
    assert "SortMergeJoin" not in p
    # no hash exchange keyed on the corpus row identity
    assert "hashpartitioning(event_id" not in p


def test_q117_salted_join_is_plain_hash_join(spark, entry, sf_dir):
    """Salting must not degrade the join: still an equi hash join on
    (key, salt), no nested loop, no cartesian."""
    p = plan_str(entry.queries()["q117_salted_join"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)


def test_q118_bucketed_join_reads_buckets_no_join_shuffle(spark, entry, sf_dir):
    """The whole point of the bucketed layout: both scans read buckets
    directly and the JOIN itself needs no Exchange. With broadcast
    disabled the join is the co-located sort-merge form."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_str(entry.queries()["q118_bucketed_join"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in p
    assert "SortMergeJoin" in p
    # no exchange keyed on the join key — bucket co-location replaces it
    assert "hashpartitioning(o_custkey" not in p
    assert "hashpartitioning(c_custkey" not in p


def test_q120_iqr_fences_broadcast_back(spark, entry, sf_dir):
    """The keys x 2-row fence table must broadcast onto the data — the
    big side joins without shuffling on the group key twice."""
    p = plan_str(entry.queries()["q120_iqr_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q121_crosscorpus_band_join_no_cartesian(spark, entry, sf_dir):
    """Cross-corpus candidates come from the (band, bh) bucket join —
    the |corpus| x |reference| pair space must never appear."""
    p = plan_str(entry.queries()["q121_crosscorpus_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q116_semantic_dedup_result_is_fixpoint(spark, entry, sf_dir):
    """Semantic dedup output invariants: canonical <= id, canonicals
    are their own canonical (fixpoint), one row per input vector."""
    out = entry.queries()["q116_semantic_dedup"](spark, sf_dir).collect()
    n_in = len(out)
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == n_in
    for r in out:
        assert r["canonical_id"] <= r["vec_id"]
        assert by_id[r["canonical_id"]]["canonical_id"] == r["canonical_id"]
        assert r["is_dup"] == (1 if r["canonical_id"] != r["vec_id"] else 0)


def test_q130_temperature_rates_broadcast(spark, entry, sf_dir):
    """The per-domain rate table must broadcast onto the corpus — the
    big side never shuffles on the domain key."""
    p = plan_str(entry.queries()["q130_temperature_sample"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "hashpartitioning(doc_id" not in p


def test_q131_bm25_broadcasts_df_and_stats(spark, entry, sf_dir):
    """df/stats tables are query-term-sized: both must broadcast; the
    corpus-side tf partials are the only real shuffle."""
    p = plan_str(entry.queries()["q131_bm25"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2
    assert "CartesianProduct" not in p


def test_q132_split_assign_is_map_only(spark, entry, sf_dir):
    """Split assignment is a pure map expression: ZERO shuffle
    exchanges in the whole plan."""
    p = plan_str(entry.queries()["q132_split_assign"](spark, sf_dir))
    tree = p.split("(1) ")[0]
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 0


def test_q159_sparse_cosine_term_keyed_no_cartesian(spark, entry, sf_dir):
    """The inverted-index pair join must be a hash join on the term key —
    the all-pairs space must never appear as a nested-loop/cartesian."""
    p = plan_str(entry.queries()["q159_sparse_cosine"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p  # per-pair partial sums combine map-side


def test_q156_auc_single_window_over_score_grain(spark, entry, sf_dir):
    """AUC runs ONE per-key window over the distinct-score grain (the
    groupBy collapses rows first) and never joins or nests loops."""
    p = plan_str(entry.queries()["q156_auc"](spark, sf_dir))
    assert "CartesianProduct" not in p and "Join" not in p
    assert p.count("Window") >= 1
    assert "HashAggregate" in p


def test_q161_skyline_no_self_join(spark, entry, sf_dir):
    """The skyline plan is distinct-grain + one window — the O(n²)
    NOT-EXISTS shape (a join) must not appear."""
    p = plan_str(entry.queries()["q161_skyline"](spark, sf_dir))
    assert "Join" not in p
    assert p.count("Window") >= 1


def test_q160_attribution_one_window_pass(spark, entry, sf_dir):
    """First/last touch come from one shared per-user window (both
    first() and last() over the same frame) — no conversions-vs-touches
    self-join."""
    p = plan_str(entry.queries()["q160_attribution"](spark, sf_dir))
    assert "Join" not in p
    assert "HashAggregate" in p


def test_q162_bpe_apply_is_map_only(spark, entry, sf_dir):
    """Fixed-merge BPE application must be a pure map plan: no exchange,
    no explode-shuffle — the merge loop lives inside a higher-order
    transform over the word array."""
    p = plan_str(entry.queries()["q162_bpe_apply"](spark, sf_dir))
    assert "Join" not in p
    assert "Generate" not in p  # no explode
    assert "HashAggregate" not in p  # token math is per-row, not grouped
    # at most 2 exchange nodes (each listed twice in formatted plans),
    # both row-preserving: spread()'s round-robin + the orderBy range
    assert p.count(") Exchange") <= 4
    assert "hashpartitioning" not in p  # never shuffles on a key


def test_q165_corr_pairs_single_aggregate(spark, entry, sf_dir):
    """All 15 moments accumulate in ONE aggregate over the fact scan;
    the only exchange carries the single partial-agg row."""
    p = plan_str(entry.queries()["q165_corr_pairs"](spark, sf_dir))
    assert "Join" not in p
    assert p.count("HashAggregate") >= 2  # partial + final


def test_q164_exact_split_bounds_broadcast(spark, entry, sf_dir):
    """Quota bounds (strata x splits rows) must broadcast onto the
    ranked corpus — the big side never shuffles for the join."""
    p = plan_str(entry.queries()["q164_exact_split"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q166_woe_totals_broadcast(spark, entry, sf_dir):
    """The 1-row totals join back broadcast; category cardinality, not
    fact rows, bounds everything after the first aggregate."""
    p = plan_str(entry.queries()["q166_woe"](spark, sf_dir))
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 2


def test_q167_cdf_no_join_single_sort(spark, entry, sf_dir):
    """CDF transform: both window frames (range-count + whole-partition
    n) share one per-key sort — no join back, no self-join."""
    p = plan_str(entry.queries()["q167_cdf_transform"](spark, sf_dir))
    assert "Join" not in p
    assert p.count("(") > 0 and "Window" in p


def test_q168_seasonal_medians_broadcast(spark, entry, sf_dir):
    """Phase medians and residual fences must broadcast back onto the
    facts — the event table never shuffles for either join."""
    p = plan_str(entry.queries()["q168_seasonal_anomaly"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_q169_lift_two_level_bucketed(spark, entry, sf_dir):
    """Cardinality-adaptive prefix sum (rounds 9 and 14): at gate scale
    the r14 file-size proof (the scan is far under
    spark.aeon.grain.fastPathMaxBytes) SKIPS the bucket level (no _cb
    partitioning — 2-3 fewer stages). The forced half turns that proof
    off, so the count proof alone decides: the distinct-score grain
    (311 rows) exceeds score_buckets=8, which must re-engage the
    two-level path with the within-bucket window PARTITIONED by the
    coarse bucket. No sort-merge join on either path. Both results
    release their persisted grain once their plans are printed."""
    from aeon_mecha_spark.operators.analytics import lift_table
    from aeon_mecha_spark.util import release_cached
    from pyspark.sql import functions as F

    q = entry.queries()["q169_lift_table"](spark, sf_dir)
    p = plan_str(q)
    release_cached(q)
    assert "SortMergeJoin" not in p
    assert "hashpartitioning(_cb" not in p  # fast path: no bucket level
    assert p.count("HashAggregate") >= 2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark.conf.set("spark.aeon.grain.fastPathMaxBytes", "0")
    try:
        forced = lift_table(
            docs, F.col("source") == "src0", "n_chars",
            n_buckets=10, score_buckets=8,
        )
        pf = plan_str(forced)
        release_cached(forced)
    finally:
        spark.conf.unset("spark.aeon.grain.fastPathMaxBytes")
    assert "SortMergeJoin" not in pf
    assert "hashpartitioning(_cb" in pf  # scale path: bucket-keyed window


def test_q170_gini_single_window_pass(spark, entry, sf_dir):
    """Gini: rank and rank·value share one per-key sort; no join."""
    p = plan_str(entry.queries()["q170_gini"](spark, sf_dir))
    assert "Join" not in p
    assert p.count("Window") >= 1


def test_q172_benford_grid_broadcast(spark, entry, sf_dir):
    """The 9-row Benford grid and 1-row total must broadcast; the fact
    scan aggregates map-side into 9 groups — no sort-merge, no
    cartesian beyond the 1-row total."""
    p = plan_str(entry.queries()["q172_benford"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert p.count("HashAggregate") >= 2


def test_q173_stuck_runs_windows_share_sort(spark, entry, sf_dir):
    """Both island row_numbers must ride per-key partitions — no
    unpartitioned window over the event stream."""
    p = plan_str(entry.queries()["q173_stuck_runs"](spark, sf_dir))
    assert "Join" not in p
    assert "hashpartitioning(event_type" in p


def test_q174_vocab_overlap_term_keyed(spark, entry, sf_dir):
    """The pair join must key on the term (bounded per-term fanout),
    sizes broadcast — never a group-pair cartesian of vocabularies."""
    p = plan_str(entry.queries()["q174_vocab_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p  # sizes rejoin


def test_q175_decompose_seasonal_broadcast(spark, entry, sf_dir):
    """The (type, hod) seasonal table joins back broadcast; the event
    stream shuffles once for the trend window."""
    p = plan_str(entry.queries()["q175_decompose"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_q176_rolling_median_single_window(spark, entry, sf_dir):
    """One per-key window pass; the frame collect never joins."""
    p = plan_str(entry.queries()["q176_rolling_median"](spark, sf_dir))
    assert "Join" not in p
    assert "hashpartitioning(event_type" in p


def test_q177_cusum_one_sort_three_functions(spark, entry, sf_dir):
    """Prefix sum, totals, and rank must ride per-key partitions; no
    join, no unpartitioned window."""
    p = plan_str(entry.queries()["q177_cusum"](spark, sf_dir))
    assert "Join" not in p
    assert "hashpartitioning(event_type" in p
    assert "SinglePartition" not in p


def test_q178_confusion_class_sized_joins(spark, entry, sf_dir):
    """After the (actual, predicted) grain, everything is
    class-cardinality-sized — marginal joins must not sort-merge the
    corpus."""
    p = plan_str(entry.queries()["q178_confusion"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2


def test_q179_kl_totals_broadcast(spark, entry, sf_dir):
    """Category counts in one pass; 1-row totals broadcast back."""
    p = plan_str(entry.queries()["q179_categorical_kl"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert p.count("HashAggregate") >= 2


def test_q180_ndcg_rank_cut_before_dcg(spark, entry, sf_dir):
    """The rank window cuts at k before the DCG aggregate — a
    WindowGroupLimit-eligible top-k, never a full-corpus carry."""
    p = plan_str(entry.queries()["q180_ndcg"](spark, sf_dir))
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_q181_ewma_one_window_sixteen_lags(spark, entry, sf_dir):
    """All 16 lag expressions must ride ONE per-key window (a single
    Window node, one sort) — not one pass per lag."""
    p = plan_str(entry.queries()["q181_ewma"](spark, sf_dir))
    assert "Join" not in p
    assert "hashpartitioning(event_type" in p


def test_q182_bootstrap_explode_collapses_before_shuffle(spark, entry, sf_dir):
    """The x32 replicate explode must partial-aggregate map-side — the
    exchange carries (key, replicate) partials, not exploded rows."""
    p = plan_str(entry.queries()["q182_bootstrap_se"](spark, sf_dir))
    assert "Generate" in p  # the replicate explode
    assert p.count("HashAggregate") >= 4  # partial+final at two grains
    assert "CartesianProduct" not in p


def test_q183_compaction_metadata_window(spark, entry, sf_dir):
    """Planner windows run over the file LISTING; the 1-row bin-count
    broadcasts (no shuffle for it)."""
    p = plan_str(entry.queries()["q183_compaction"](spark, sf_dir))
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" not in p
    assert "Window" in p


def test_q184_quantile_map_no_range_join(spark, entry, sf_dir):
    """The inverse-CDF lookup must be the union-merge window + a
    broadcast equi-join back — never a range/theta join — and the merge
    window must be PARTITIONED by the ppm bucket (no unpartitioned
    window over the distinct-value grain)."""
    p = plan_str(entry.queries()["q184_quantile_map"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning(_pb" in p  # bucketed union-merge
    assert "hashpartitioning(_g" in p  # per-group CDF stays keyed


def test_q185_temporal_2hop_mid_keyed_hash_join(spark, entry, sf_dir):
    """The 2-hop join must hash on the mid node; time predicates are
    post-join filters, never a nested loop."""
    p = plan_str(entry.queries()["q185_temporal_2hop"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q186_pps_single_stratum_sort(spark, entry, sf_dir):
    """Cumsum and stratum total share one per-lang sort; map-side
    filter selects boundary rows — no join."""
    p = plan_str(entry.queries()["q186_pps_sample"](spark, sf_dir))
    assert "Join" not in p
    assert "hashpartitioning(lang" in p


def test_q187_snowflake_dims_broadcast(spark, entry, sf_dir):
    """Nation/region dims broadcast; only the li-orders-customer chain
    may shuffle — no cartesian, no nested loop."""
    p = plan_str(entry.queries()["q187_market_share"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q188_custdist_two_level_aggregate(spark, entry, sf_dir):
    """Left join keeps zero-order customers; both aggregates partial."""
    p = plan_str(entry.queries()["q188_custdist"](spark, sf_dir))
    assert "LeftOuter" in p
    assert p.count("HashAggregate") >= 2


def test_q190_hll_register_grain_combines_mapside(spark, entry, sf_dir):
    """Register max is a map-side-combinable aggregate; the per-key fold
    touches <= 64 rows per key."""
    p = plan_str(entry.queries()["q190_hll_distinct"](spark, sf_dir))
    assert "Join" not in p
    assert p.count("HashAggregate") >= 2


def test_q191_kcore_semi_join_induction(spark, entry, sf_dir):
    """Each peel round induces the subgraph via semi-joins — no
    cartesian, no nested loop, survivors persisted between rounds."""
    p = plan_str(entry.queries()["q191_kcore"](spark, sf_dir))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_q192_feature_hash_fixed_grain(spark, entry, sf_dir):
    """Map-side explode + one (doc, feature) aggregate — no joins, no
    windows; feature cardinality is the fixed 256."""
    p = plan_str(entry.queries()["q192_feature_hash"](spark, sf_dir))
    assert "Join" not in p and "Window" not in p
    assert "HashAggregate" in p


def test_q193_position_attribution_one_window(spark, entry, sf_dir):
    """The touch list rides ONE per-user window; credits explode
    map-side — no conversions-vs-touches join."""
    p = plan_str(entry.queries()["q193_position_attribution"](spark, sf_dir))
    assert "Join" not in p
    assert "hashpartitioning(user_id" in p


def test_q194_scalar_max_broadcast(spark, entry, sf_dir):
    """The 1-row max joins back broadcast; the revenue aggregate is
    computed once (persisted — column pruning defeats ReuseExchange),
    NO global window over the supplier grain (1e9 rows at 100 TB),
    never a sort-merge."""
    from aeon_mecha_spark.util import release_cached

    q = entry.queries()["q194_top_supplier"](spark, sf_dir)
    p = plan_str(q)
    release_cached(q)
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "Window" not in p
    assert "InMemoryTableScan" in p  # one lineitem scan via persist


def test_q197_waiting_no_exists_joins(spark, entry, sf_dir):
    """The double-EXISTS shape must be two aggregates + equi-joins —
    no nested-loop correlation."""
    p = plan_str(entry.queries()["q197_waiting_supplier"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 4  # per-(o,s) + per-o, partial+final


def test_q198_idle_anti_join(spark, entry, sf_dir):
    """NOT EXISTS compiles to an anti-join with the recent-orders
    filter pushed to the scan."""
    p = plan_str(entry.queries()["q198_idle_customers"](spark, sf_dir))
    assert "LeftAnti" in p
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in p


def test_dynamic_partition_pruning_on_partitioned_join(spark, tmp_path, sf_dir):
    """Round 10 (VERDICT r09 item 9): a fact table PARTITIONED on the
    join key must receive a DynamicPruningExpression from a filtered
    dim — at 100 TB this is the difference between scanning 4 language
    partitions and scanning all of them. Static pruning can't help (the
    filter is on the dim side); the subquery-broadcast reuse must reach
    the scan's PartitionFilters."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fact_path = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("en", "keep"), ("de", "keep"), ("zh", "drop"), ("es", "drop")],
        "lang string, disposition string",
    )
    out = (
        fact.join(dim.filter(F.col("disposition") == "keep"), "lang")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = plan_str(out)
    assert "dynamicpruning" in p.lower(), p[:2000]
    # and it must actually prune: only the two kept languages are read
    langs = {r["lang"] for r in out.collect()}
    assert langs <= {"en", "de"}
