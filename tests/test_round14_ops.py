"""Round-14 optimization tests: the `_ordered` wrapper's contract is
machine-checkable (sort-column annotation + checkpoint release handle),
and the fused mad_outliers deviation pass still matches a row-level
mirror with derived bucket bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _n_stored(spark) -> int:
    return len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()])


def test_ordered_annotates_sort_cols_and_releases_checkpoint(spark, monkeypatch):
    """`_ordered` must (a) annotate the result with its plain sort
    column names (plan_audit's executed-tail and uniqueness checks key
    off it) and (b) ride a LocalCheckpointHandle so release_cached can
    free the RDD-level checkpoint blocks — DataFrame.unpersist and
    clearCache cannot see them (measured r14: they pin executor
    storage for the session otherwise)."""
    import __spark_entry__ as entry

    monkeypatch.delenv("AEON_AUDIT_PLAIN_SORT", raising=False)
    from aeon_mecha_spark.util import LocalCheckpointHandle, release_cached

    spark.catalog.clearCache()
    n0 = _n_stored(spark)  # baseline: earlier tests may pin checkpoints
    df = entry.queries()["q149_cube_agg"](spark, "/root/testdata/sf0.001")
    assert df._aeon_ordered_cols == ["level", "l_returnflag", "l_linestatus"]
    handles = [h for h in df._aeon_cached if isinstance(h, LocalCheckpointHandle)]
    assert handles, "_ordered must track its checkpoint for release"
    df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()  # cache-manager clear does NOT free them
    assert _n_stored(spark) >= n0 + 1
    release_cached(df)
    assert _n_stored(spark) == n0
    assert not handles[0].is_cached

    # Column-typed sort args parse to their plain names
    df2 = entry.queries()["q145_rrf_fusion"](spark, "/root/testdata/sf0.001")
    assert df2._aeon_ordered_cols == ["rrf_ppb", "doc_id"]
    release_cached(df2)


def test_ordered_sort_keys_unique_on_wrapped_sample(spark, monkeypatch):
    """The wrapper is row-order-safe only when the sort column set is
    unique per row. Execute the precondition on a representative
    wrapped sample (the full 40+-gate sweep lives in
    `tools/plan_audit.py --check-unique`, run each round)."""
    import __spark_entry__ as entry

    monkeypatch.delenv("AEON_AUDIT_PLAIN_SORT", raising=False)
    from aeon_mecha_spark.util import release_cached

    qs = entry.queries()
    for name in ("q149_cube_agg", "q248_cliffs_delta", "q145_rrf_fusion",
                 "q213_kruskal_wallis"):
        spark.catalog.clearCache()
        df = qs[name](spark, "/root/testdata/sf0.001")
        cols = df._aeon_ordered_cols
        dups = (
            df.groupBy(*[F.col(c) for c in cols])
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dups == 0, f"{name}: sort keys {cols} not unique per row"
        release_cached(df)


def test_mad_outliers_fused_bounds_match_mirror(spark):
    """r14 fusion: the deviation pass uses DERIVED bucket bounds
    ([0, max(mx-med, med-mn)]) and an unaggregated deviation grain.
    Pin against a brute-force Python mirror on data with duplicate
    deviation values (|v-med| collisions from both sides of the
    median) — the exact case the de-duplicated grain used to
    normalize."""
    from aeon_mecha_spark.operators.analytics import mad_outliers

    # values symmetric around 10 -> many duplicate |v - med|
    vals = [4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0, 10.0, 6.0, 14.0, 100.0]
    rows = [("a", v) for v in vals] + [("b", float(i)) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = {
        (r["k"], r["v"]): (r["_median"], r["_mad"], r["is_outlier"])
        for r in mad_outliers(df, ["k"], "v", k=3.0).collect()
    }

    import math

    def type1_median(xs):
        xs = sorted(xs)
        return xs[math.ceil(len(xs) / 2) - 1]

    for key in ("a", "b"):
        xs = [v for k, v in rows if k == key]
        med = type1_median(xs)
        mad = type1_median([abs(x - med) for x in xs])
        for x in xs:
            assert out[(key, x)] == (med, mad, abs(x - med) > 3.0 * mad), (
                key, x, out[(key, x)], (med, mad),
            )


def test_attach_doubled_rank_multirow_grain_matches_mirror(spark):
    """`_attach_doubled_rank` computes dr = 2·rank + ties − 1 with
    RANGE-framed window sums directly on a grain carrying SEVERAL rows
    per (key, value) — the round-14 fusion that removed the
    distinct-grain prefix + join-back from spearman/kruskal. Pin it on
    a multi-row-per-value grain (ties split across rows, both the
    bucketed numeric path and the non-numeric fallback) against a
    Python mirror."""
    from aeon_mecha_spark.operators.analytics import _attach_doubled_rank

    # (key, value, count) with values repeated across rows: the value
    # 5 has rows with counts 2 and 3 (tie run of 5 observations)
    rows = [
        ("a", 5, 2), ("a", 5, 3), ("a", 1, 1), ("a", 9, 4), ("a", 9, 1),
        ("b", 7, 10),
    ]

    def mirror(rows, key):
        obs = {}
        for k, v, c in rows:
            if k == key:
                obs[v] = obs.get(v, 0) + c
        out = {}
        rank = 0
        for v in sorted(obs):
            n_v = obs[v]
            # doubled average rank of the tie run rank+1 .. rank+n_v
            out[v] = 2 * (rank + n_v) - n_v + 1
            rank += n_v
        return out

    for dt, buckets in (("int", 4), ("int", 1024), ("string", 8)):
        df = spark.createDataFrame(
            [(k, str(v) if dt == "string" else v, c) for k, v, c in rows],
            f"k string, v {dt}, c long",
        )
        got = _attach_doubled_rank(df, ["k"], "v", "c", "_dr", buckets).collect()
        assert len(got) == len(rows)
        for r in got:
            want = mirror(
                [(k, str(v) if dt == "string" else v, c) for k, v, c in rows],
                r["k"],
            )
            assert r["_dr"] == want[r["v"]], (dt, buckets, r)


def test_attach_doubled_rank_exposes_tie_total(spark):
    """nv_col exposes the tie-run TOTAL (summed across the value's
    rows) — kruskal_wallis' integral tie mass identity
    Σ_v(n_v³−n_v) = Σ_{(v,g)} n_gv·(n_v²−1) depends on it."""
    from aeon_mecha_spark.operators.analytics import _attach_doubled_rank

    df = spark.createDataFrame(
        [("a", 5, 2), ("a", 5, 3), ("a", 8, 1)], "k string, v int, c long"
    )
    got = {
        (r["v"], r["c"]): r["_nv"]
        for r in _attach_doubled_rank(
            df, ["k"], "v", "c", "_dr", 16, nv_col="_nv"
        ).collect()
    }
    assert got == {(5, 2): 5, (5, 3): 5, (8, 1): 1}


def test_grain_fast_path_matches_bucketed(spark, sf_dir):
    """The r14 file-size fast path (spark.aeon.grain.fastPathMaxBytes)
    picks a single-window plan for provably-small scans; the bucketed
    plan must produce IDENTICAL rows. Compare both paths on real
    parquet gates across every grain engine (_grain_prefix via cliffs,
    _attach_doubled_rank via kruskal, _grain_type1_quantile via
    brown-forsythe, and trimmed_mean's own fast path)."""
    import __spark_entry__ as entry
    from aeon_mecha_spark.util import release_cached

    qs = entry.queries()
    for name in ("q248_cliffs_delta", "q213_kruskal_wallis",
                 "q254_brown_forsythe", "q247_trimmed_mean",
                 "q208_mannwhitney"):
        rows = {}
        for mode, val in (("on", str(128 << 20)), ("off", "0")):
            spark.conf.set("spark.aeon.grain.fastPathMaxBytes", val)
            spark.catalog.clearCache()
            df = qs[name](spark, sf_dir)
            rows[mode] = sorted(map(tuple, df.collect()))
            release_cached(df)
        spark.conf.unset("spark.aeon.grain.fastPathMaxBytes")
        assert rows["on"] == rows["off"], name


def test_narrow_scan_bytes_soundness(spark, sf_dir):
    """narrow_scan_bytes must return bytes only for row-bounded plans
    over local file scans, and None whenever a node could multiply rows
    (join, explode, rollup/Expand) or the leaf is not a file scan."""
    import os
    from pyspark.sql import functions as F
    from aeon_mecha_spark.util import narrow_scan_bytes

    path = os.path.join(sf_dir, "lineitem.parquet")
    li = spark.read.parquet(path)
    size = os.path.getsize(path) if os.path.isfile(path) else sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        if not f.startswith(("_", "."))
    )
    g = li.filter(F.col("l_quantity") > 0).groupBy("l_returnflag").count()
    assert narrow_scan_bytes(g) == size
    # row-multiplying or opaque plans -> None
    assert narrow_scan_bytes(li.join(g, "l_returnflag")) is None
    assert narrow_scan_bytes(
        li.select(F.explode(F.array(F.lit(1), F.lit(2))))
    ) is None
    assert narrow_scan_bytes(li.rollup("l_returnflag").count()) is None
    assert narrow_scan_bytes(
        spark.createDataFrame([(1,)], "a int")
    ) is None
    # Union is excluded: inputFiles() dedupes, so a self-union would
    # undercount bytes 2x -> must return None
    assert narrow_scan_bytes(g.unionByName(g)) is None


def test_session_pins_ansi_mode(spark):
    """get_spark sets ANSI mode explicitly, not through Spark's default:
    the key reaches the context's conf, and the SQL conf reads true."""
    assert spark.sparkContext.getConf().get("spark.sql.ansi.enabled") == "true"
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    assert spark._jsparkSession.sessionState().conf().ansiEnabled()
