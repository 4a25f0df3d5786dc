"""Beyond-reference analytic operators (scale extensions, SURVEY.md §7 P5).

The reference has no multi-granularity rollups, gap-filling, funnels, or
rank analytics (SURVEY.md §2.4 "No grouping sets / cube / rollup"), but a
continuous-aggregate store over hour-chunked streams is the natural next
layer on top of its 1-hour chunk model (acquisition.py:457-511), and a
training-data pipeline needs these for cohort/quality slicing. All are
single-pass Spark plans:

- ``granularity_rollup``: one shuffle, GROUPING SETS expansion inside the
  aggregate (no N-pass union over granularities).
- ``gap_fill_locf``: ``sequence()`` + ``explode`` generates dense buckets
  executor-side (no driver loop); LOCF is one window pass.
- ``time_weighted_avg``: lead() + exact decimal sums — associative, so
  partition-order independent on any cluster shape.
- ``funnel``: k-1 shuffles for a k-step funnel, each a semi-join-shaped
  aggregate on the user key (no per-user driver iteration).
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from aeon_mecha_spark.functions.hashing import md5_long

_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
)

# Below this many bytes of proven file-scan input, the grain engines
# (_grain_prefix / _grain_type1_quantile / _attach_doubled_rank) take
# their single-window fast path — the IDENTICAL computation without the
# two-level bucket machinery, whose 4-6 extra stages are pure scheduling
# latency when the grain fits one window task (measured r14: the bucket
# path was 2.6 s of q248's 3.3 s at sf0.1 while the single window costs
# ~0.2 s). The bound is an UPPER bound on grain rows by construction
# (util.narrow_scan_bytes: every output row traces to a scanned row),
# and a BYTES threshold is scale-adaptive (guide §2): any real input
# beyond it — the 8×/64× probes, 100 TB partitions — takes the bucketed
# path automatically. Tunable per session via
# spark.aeon.grain.fastPathMaxBytes (0 disables the fast path).
_GRAIN_FAST_MAX_BYTES = 128 * 1024 * 1024


def _grain_provably_small(g: DataFrame) -> bool:
    from aeon_mecha_spark.util import narrow_scan_bytes

    try:
        limit = int(
            g.sparkSession.conf.get(
                "spark.aeon.grain.fastPathMaxBytes",
                str(_GRAIN_FAST_MAX_BYTES),
            )
        )
    except ValueError:
        limit = _GRAIN_FAST_MAX_BYTES
    if limit <= 0:
        return False
    nb = narrow_scan_bytes(g)
    return nb is not None and nb <= limit


def _grain_prefix(
    g: DataFrame,
    value_col: str,
    measures: list[str],
    ascending: bool,
    buckets: int,
    group_cols: list[str] | None = None,
    grain_count: int | None = None,
) -> DataFrame:
    """Shared two-level distributed prefix sum over a PERSISTED
    distinct-value grain ``g`` — the engine under ``lift_table`` /
    ``roc_points`` / ``pr_points`` / ``lorenz_points`` /
    ``quantile_map`` and the doubled-rank statistics.

    For every row of ``g`` adds, per measure column ``m`` (long or
    decimal(38,0), already aggregated to the grain):

    - ``_cum<m>``: inclusive running sum of ``m`` in ``value_col``
      order (ascending/descending) within ``group_cols``;
    - ``_tot<m>``: the group total.

    Scale path: distinct values land in ``buckets`` coarse range
    buckets via a per-group min/max linear map (clamped BY
    CONSTRUCTION; any monotone map refines the value order, so the
    result is exact); the per-(group, bucket) offset table is windowed
    over ≤ ``buckets`` rows per group; a per-(group, bucket) window
    adds the within-bucket running sum. No window ever spans more than
    one bucket of the grain.

    Cardinality-adaptive fast path: when the WHOLE grain is provably
    small the bucket level is pure overhead (4–6 extra stages of
    scheduling latency — measured r14: 2.6 s of q248's 3.3 s at
    sf0.1); a single window over the grain is the identical
    computation. Same output, same hash, by construction. Two proofs
    engage it: the r14 file-size bound (``_grain_provably_small`` —
    lazy, from the driver's file listing, threshold
    ``spark.aeon.grain.fastPathMaxBytes``), checked first; else
    ``g.count() <= buckets`` (one cheap action against the
    already-persisted grain) when the caller did not pass
    ``grain_count``.

    Non-numeric guard: the linear bucket map needs ``cast(value as
    double)`` to be MONOTONE w.r.t. the column's native sort order —
    true for numerics only ('10' < '9' as strings). Non-numeric value
    columns (and date/timestamp, whose double cast is NULL) always take
    the single-window path, which is order-generic.

    ``grain_count``: callers that already know the grain size (or a
    cheap UPPER BOUND on it — e.g. the persisted parent grain's count
    when ``g`` is a derived sub-grain) pass it here to skip this
    function's own ``count()`` action; an over-estimate only forgoes
    the fast path, never correctness.
    """
    group_cols = list(group_cols or [])
    order = F.col(value_col).asc() if ascending else F.col(value_col).desc()
    dtypes = dict(g.dtypes)
    numeric = dtypes[value_col].startswith(_NUMERIC_PREFIXES)
    # fast-path order: the file-size bound is lazy (driver file listing
    # only) and checked FIRST, so a provably-small grain also skips the
    # caller-opted planning count below
    small = (not numeric) or _grain_provably_small(g)
    if not small:
        n_grain = grain_count if grain_count is not None else g.count()
        small = n_grain <= int(buckets)
    if small:
        w_in = (
            W.partitionBy(*group_cols)
            .orderBy(order)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        w_tot = W.partitionBy(*group_cols)
        out = g
        for m in measures:
            out = out.withColumn(
                f"_cum{m}", F.sum(m).over(w_in).cast(dtypes[m])
            ).withColumn(f"_tot{m}", F.sum(m).over(w_tot).cast(dtypes[m]))
        return out

    nb = int(buckets)
    mm = g.groupBy(*group_cols).agg(
        F.min(F.col(value_col).cast("double")).alias("_mn"),
        F.max(F.col(value_col).cast("double")).alias("_mx"),
    )
    bucket_of = F.when(
        F.col("_mx") > F.col("_mn"),
        F.least(
            F.lit(nb - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(value_col).cast("double") - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn"))
                    * nb
                ).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    if group_cols:
        b = g.join(mm, group_cols)
    else:
        b = g.crossJoin(F.broadcast(mm))
    b = b.withColumn("_cb", bucket_of).drop("_mn", "_mx")
    per_bucket = b.groupBy(*group_cols, "_cb").agg(
        *[F.sum(m).cast(dtypes[m]).alias(f"_b{m}") for m in measures]
    )
    # per-group ≤ buckets rows by construction (clamped bucket id)
    cb_order = F.col("_cb").asc() if ascending else F.col("_cb").desc()
    wb = (
        W.partitionBy(*group_cols)
        .orderBy(cb_order)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_tot = W.partitionBy(*group_cols)
    offs = per_bucket
    for m in measures:
        offs = offs.withColumn(
            f"_off{m}",
            F.coalesce(
                F.sum(f"_b{m}").over(wb), F.lit(0).cast(dtypes[m])
            ).cast(dtypes[m]),
        ).withColumn(f"_tot{m}", F.sum(f"_b{m}").over(w_tot).cast(dtypes[m]))
    offs = offs.select(
        *group_cols,
        "_cb",
        *[c for m in measures for c in (f"_off{m}", f"_tot{m}")],
    )
    if group_cols:
        joined = b.join(offs, [*group_cols, "_cb"])
    else:
        joined = b.join(F.broadcast(offs), "_cb")
    w_in = (
        W.partitionBy(*group_cols, "_cb")
        .orderBy(order)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = joined
    for m in measures:
        out = out.withColumn(
            f"_cum{m}",
            (F.col(f"_off{m}") + F.sum(m).over(w_in)).cast(dtypes[m]),
        )
    return out.drop("_cb", *[f"_off{m}" for m in measures])


def _attach_doubled_rank(
    g: DataFrame,
    keys: list[str],
    value_col: str,
    count_col: str,
    rank_col: str,
    buckets: int,
    nv_col: str | None = None,
    stats_src: DataFrame | None = None,
) -> DataFrame:
    """Attach the DOUBLED tie-averaged rank of ``value_col`` within
    ``keys`` (``dr = 2·rank + ties − 1``, integral under ties) to EVERY
    row of a weighted grain ``g`` — which may carry SEVERAL rows per
    (keys…, value), e.g. the (key, x, y) pair grain or the
    (key, value, sample-group) grain; ``count_col`` is each row's
    observation count and ranks weight by it.

    The rank identity ``dr = 2·cum_incl − n_v + 1`` needs the
    tie-run-inclusive cumulative count and the tie-run total, and BOTH
    are RANGE-framed window sums (``[unbounded, current]`` and
    ``[current, current]`` ordered by the value), so row multiplicity
    and intra-tie row order cannot matter — every row of a tie run
    gets the identical integer ``dr``. This replaces the round-9/10
    shape (collapse to the distinct-value grain, ``_grain_prefix``,
    then JOIN the ranks back), which paid a grain-sized exchange for
    the collapse and one to two more for the join-back (guide §2.4:
    computing a value in place beats computing it elsewhere and
    re-attaching it with a shuffle join).

    Scale path (numeric values): the same min/max linear bucket map as
    ``_grain_prefix`` (clamped, monotone ⇒ bucket order refines value
    order exactly); per-(keys, bucket) counts aggregate map-side into a
    ≤ keys×buckets offset table that broadcast-joins back, and the ONE
    grain-sized exchange is the per-(keys, bucket) window. Both range
    frames share that window's sort. Non-numeric values (where the
    double cast is not order-monotone) take the order-generic single
    per-key window.

    ``nv_col``: optionally expose the tie-run total ``n_v`` (callers
    like ``kruskal_wallis`` need the tie mass). ``stats_src``: a table
    with the SAME (keys…, value, count) multiset as ``g`` (e.g. the
    bare pair grain when ``g`` is the pair grain already carrying a
    first axis' ranks) from which the min/max and per-bucket counts
    are aggregated — so those tiny passes scan the persisted source
    instead of re-executing ``g``'s plan.
    """
    dtypes = dict(g.dtypes)
    numeric = dtypes[value_col].startswith(_NUMERIC_PREFIXES)
    src = stats_src if stats_src is not None else g
    cnt = F.sum(count_col)
    keep_nv = nv_col or "_nv_tmp"
    if not numeric or _grain_provably_small(src):
        w = W.partitionBy(*keys).orderBy(F.col(value_col).asc())
        out = g.withColumn(
            keep_nv, cnt.over(w.rangeBetween(W.currentRow, W.currentRow))
        ).withColumn(
            rank_col,
            (
                2 * cnt.over(w.rangeBetween(W.unboundedPreceding, W.currentRow))
                - F.col(keep_nv) + 1
            ).cast("long"),
        )
        return out if nv_col else out.drop(keep_nv)

    nb = int(buckets)
    mm = src.groupBy(*keys).agg(
        F.min(F.col(value_col).cast("double")).alias("_mn"),
        F.max(F.col(value_col).cast("double")).alias("_mx"),
    )
    bucket_of = F.when(
        F.col("_mx") > F.col("_mn"),
        F.least(
            F.lit(nb - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(value_col).cast("double") - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn"))
                    * nb
                ).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    if keys:
        sb = src.join(mm, keys)  # AQE: keys-sized build side → broadcast
        b = g.join(mm, keys)
    else:
        sb = src.crossJoin(F.broadcast(mm))
        b = g.crossJoin(F.broadcast(mm))
    pb = (
        sb.withColumn("_cb", bucket_of)
        .groupBy(*keys, "_cb")
        .agg(F.sum(count_col).cast("long").alias("_bn"))
    )
    w_off = (
        W.partitionBy(*keys).orderBy(F.col("_cb").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = pb.withColumn(
        "_off", F.coalesce(F.sum("_bn").over(w_off), F.lit(0).cast("long"))
    ).select(*keys, "_cb", "_off")
    b = b.withColumn("_cb", bucket_of).drop("_mn", "_mx")
    if keys:
        j = b.join(offs, [*keys, "_cb"])  # ≤ keys×buckets build side
    else:
        j = b.join(F.broadcast(offs), "_cb")
    w_in = W.partitionBy(*keys, "_cb").orderBy(F.col(value_col).asc())
    out = j.withColumn(
        keep_nv, cnt.over(w_in.rangeBetween(W.currentRow, W.currentRow))
    ).withColumn(
        rank_col,
        (
            F.col("_off")
            + cnt.over(w_in.rangeBetween(W.unboundedPreceding, W.currentRow))
        ).cast("long") * 2 - F.col(keep_nv) + 1,
    ).drop("_cb", "_off")
    return out if nv_col else out.drop(keep_nv)


def _grain_type1_quantile(
    grain: DataFrame,
    keys: list[str],
    value_col: str,
    count_col: str,
    num: int,
    den: int,
    buckets: int,
    grain_count: int | None = None,
    mm: DataFrame | None = None,
) -> DataFrame:
    """Type-1 quantile at p = num/den from a WEIGHTED distinct-value
    grain (one row per (keys…, value) with its occurrence count): the
    value whose inclusive cumulative count first reaches rank
    ``ceil(p·n) = (num·n + den − 1) div den`` — exactly the data value
    a row-level rank selection would return, because every row of a tie
    run carries the same value. Output ``(keys…, q)``.

    Plan — distributed SELECTION, not a full prefix sum: a quantile
    needs ONE rank per key, so after the per-(key, bucket) counts are
    aggregated (same min/max linear bucket map as ``_grain_prefix`` —
    any monotone map refines value order, so bucket order is exact),
    the single bucket whose cumulative range CONTAINS the rank is
    picked per key and only ITS ~grain/buckets rows are sorted (one
    keys-partitioned window over the filtered candidates). Equal
    values straddling a bucket boundary cannot change the answer —
    whichever copy is selected carries the same value. This skips the
    grain-wide in-bucket cumulative window a full prefix sum pays —
    the right trade when the output is a rank lookup, not a curve.
    Non-numeric value columns fall back to ``_grain_prefix``'s
    order-generic single-window path (``grain_count`` forwarded; see
    its laziness note).

    ``mm``: optional precomputed per-key bounds ``(keys…, _mn, _mx)``
    (doubles). Any bounds with ``_mn ≤ min(value)`` and
    ``max(value) ≤ _mx`` are EXACT — the bucket map clamps, so looser
    bounds only unbalance buckets, never change the selected value.
    Callers that can derive bounds from work they already do (e.g.
    ``mad_outliers``' deviation pass) pass them here to skip this
    function's own min/max aggregation pass. Ignored on the
    non-numeric fallback path. ``grain`` also need not be one row per
    distinct value when ``mm`` is supplied or not: duplicate
    ``(keys…, value)`` rows are summed by the bucket aggregate and
    straddle-scanned like tie runs — the selected value is the same.
    """
    dtypes = dict(grain.dtypes)
    if (
        not dtypes[value_col].startswith(_NUMERIC_PREFIXES)
        or _grain_provably_small(grain)
    ):
        # order-generic prefix branch; on the provably-small path
        # _grain_prefix's own size check keeps it a single window
        cum = _grain_prefix(
            grain, value_col, [count_col], ascending=True,
            buckets=buckets, group_cols=keys, grain_count=grain_count,
        )
        rank = F.expr(f"({num} * _tot{count_col} + {den - 1}) div {den}")
        return cum.filter(
            (F.col(f"_cum{count_col}") >= rank)
            & ((F.col(f"_cum{count_col}") - F.col(count_col)) < rank)
        ).select(*keys, F.col(value_col).alias("q"))

    nb = int(buckets)
    if mm is None:
        mm = grain.groupBy(*keys).agg(
            F.min(F.col(value_col).cast("double")).alias("_mn"),
            F.max(F.col(value_col).cast("double")).alias("_mx"),
        )
    bucket_of = F.when(
        F.col("_mx") > F.col("_mn"),
        F.least(
            F.lit(nb - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(value_col).cast("double") - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn"))
                    * nb
                ).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    if keys:
        b = grain.join(mm, keys)  # AQE: keys-sized build side → broadcast
    else:
        b = grain.crossJoin(F.broadcast(mm))
    b = b.withColumn("_cb", bucket_of).drop("_mn", "_mx")
    per_bucket = b.groupBy(*keys, "_cb").agg(
        F.sum(count_col).cast("long").alias("_bc")
    )
    w_off = (
        W.partitionBy(*keys).orderBy(F.col("_cb").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = per_bucket.withColumn(
        "_off", F.coalesce(F.sum("_bc").over(w_off), F.lit(0).cast("long"))
    ).withColumn("_tot", F.sum("_bc").over(W.partitionBy(*keys)))
    rank = F.expr(f"({num} * _tot + {den - 1}) div {den}")
    sel = offs.filter((F.col("_off") < rank) & (rank <= F.col("_off") + F.col("_bc"))).select(
        *keys, "_cb", "_off", rank.alias("_rk")
    )
    if keys:
        cand = b.join(sel, [*keys, "_cb"])  # ≤ grain/buckets rows per key
    else:
        cand = b.join(F.broadcast(sel), "_cb")
    w_in = W.partitionBy(*keys).orderBy(F.col(value_col).asc())
    ranked = cand.withColumn(
        "_cum", F.col("_off") + F.sum(count_col).over(
            w_in.rowsBetween(W.unboundedPreceding, 0)
        )
    )
    return ranked.filter(
        (F.col("_cum") >= F.col("_rk"))
        & ((F.col("_cum") - F.col(count_col)) < F.col("_rk"))
    ).select(*keys, F.col(value_col).alias("q"))


def granularity_rollup(
    df: DataFrame,
    ts_col: str,
    dims: list[str],
    aggs: list[Column],
    granularities: tuple[str, ...] = ("day", "hour"),
) -> DataFrame:
    """Hypertable-style multi-granularity rollup in ONE aggregate.

    Produces every level of the hierarchy dims → dims+coarse → … →
    dims+fine plus the grand total, like a continuous-aggregate cascade,
    via ``ROLLUP`` (Catalyst expands grouping sets inside a single
    hash-aggregate — one shuffle regardless of level count).

    Bucket columns come back as formatted strings with ``(all)`` for
    rolled-up levels, plus a ``level`` label column — stable output
    across engines (no NULL-vs-NaT ambiguity).
    """
    fmt = {"hour": "yyyy-MM-dd HH:00", "day": "yyyy-MM-dd"}
    base = df
    bucket_cols = []
    for g in granularities:
        c = f"bucket_{g}"
        base = base.withColumn(c, F.date_format(F.date_trunc(g, F.col(ts_col)), fmt[g]))
        bucket_cols.append(c)

    # innermost grouped column still present -> that's the row's level;
    # grouping() is only legal inside the rollup aggregate itself
    level = F.lit("total")
    for d in dims:
        level = F.when(F.grouping(d) == 0, F.lit(d)).otherwise(level)
    for g, c in zip(granularities, bucket_cols):
        level = F.when(F.grouping(c) == 0, F.lit(g)).otherwise(level)
    out = base.rollup(*dims, *bucket_cols).agg(*aggs, level.alias("level"))
    for c in dims + bucket_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit("(all)")))
    return out


def pivot_table(
    df: DataFrame,
    keys: list[str],
    pivot_col: str,
    values: list[str],
    agg: Column,
) -> DataFrame:
    """Wide dashboard pivot: one output column per ``values`` entry.

    Passing the explicit ``values`` list skips Spark's extra distinct-scan
    job and keeps the plan a single shuffle; empty cells coalesce to a
    zero of the aggregate's own type (counts stay long, sums stay
    double/decimal).
    """
    out = df.groupBy(*keys).pivot(pivot_col, values).agg(agg)
    for v in values:
        out = out.withColumn(
            v, F.coalesce(F.col(v), F.lit(0).cast(out.schema[v].dataType))
        )
    return out


def time_weighted_avg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str],
    value_scale: int = 2,
) -> DataFrame:
    """LOCF time-weighted mean per key (the timescale ``time_weight``
    pattern): each observation holds its value until the next one;
    twa = Σ value·Δt / Σ Δt over the key's observation span.

    The weighted sum runs in decimal (value at ``value_scale`` decimals ×
    µs duration → decimal(38, scale)) so partial aggregates combine
    exactly — bit-identical on 1 partition or 10 000. The final ratio is
    produced from an int64 numerator via IEEE double ops only (int64→
    double and double division are identically rounded everywhere;
    decimal→double casts are NOT once the scaled integer passes 2^53).
    Keep ``value_scale`` as small as the data's true precision allows so
    the scaled sum stays within int64. Requires (keys, ts) unique; the
    final observation of each key has no successor and carries no weight.
    """
    w = W.partitionBy(*keys).orderBy(ts_col)
    us = F.unix_micros(F.col(ts_col))
    dur = (F.unix_micros(F.lead(ts_col).over(w)) - us).alias("dur_us")
    s = value_scale
    weighted = (
        df.select(*keys, F.col(value_col).alias("_v"), dur)
        .filter(F.col("dur_us").isNotNull())
        .select(
            *keys,
            (F.col("_v").cast(f"decimal(19,{s})") * F.col("dur_us").cast("decimal(18,0)")).alias("_w"),
            "dur_us",
        )
    )
    num = (F.sum("_w").cast(f"decimal(38,{s})") * F.lit(10**s)).cast("long").cast("double")
    return weighted.groupBy(*keys).agg(
        (num / F.sum("dur_us").cast("double") / F.lit(float(10**s))).alias("twa"),
        F.sum("dur_us").cast("long").alias("span_us"),
    )


def gap_fill_locf(
    df: DataFrame,
    bucket_col: str,
    value_cols: list[str],
    keys: list[str],
    step: str = "1 hour",
) -> DataFrame:
    """Dense time buckets per key with last-observation-carried-forward
    (the timescale ``time_bucket_gapfill`` + ``locf`` pattern).

    Input has one row per observed (keys, bucket). Missing buckets
    between each key's first and last observation are generated
    executor-side with ``sequence()`` + ``explode`` (no driver loop),
    then filled by one LOCF window pass. ``filled`` marks synthesized
    rows. Scale: rows-out ≈ keys × span/step, generated pre-shuffled on
    the key — the window never re-shuffles.
    """
    bounds = df.groupBy(*keys).agg(
        F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi")
    )
    dense = bounds.select(
        *keys,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL {step}"))
        ).alias(bucket_col),
    )
    joined = dense.join(df, [*keys, bucket_col], "left").withColumn(
        "filled", F.col(value_cols[0]).isNull()
    )
    w = (
        W.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    for c in value_cols:
        joined = joined.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return joined


def interpolate_linear(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Time-weighted linear interpolation of NULL gaps per key — the
    complement of ``gap_fill_locf``: instead of carrying the last value
    forward, a NULL row gets
    ``prev + (next − prev) · (t − t_prev)/(t_next − t_prev)``
    between its nearest non-null neighbours (pandas ``interpolate
    (method='time')`` semantics). Rows before the first observation
    backfill from the next; after the last, LOCF from the prev; keys
    with no observation stay NULL. Adds ``value_interp`` (original
    non-null values pass through bit-unchanged) and ``was_null``.

    Determinism: ``order_cols`` (default ``[ts_col]``) must be unique
    per key so the neighbour choice is total-order-stable; time deltas
    are integer µs cast to double, and the interpolation is a fixed
    IEEE expression tree — identical in any engine, so the q123 gate
    hash-matches DuckDB.

    Plan: FOUR window expressions over TWO frame specs (backward
    prev-carry, forward next-carry) on the same (keys, order) sort —
    one Exchange + one sort, both window passes reuse the partitioning.
    No joins, no explode; scale is the per-key sort.
    """
    order_cols = order_cols or [ts_col]
    wp = (
        W.partitionBy(*keys)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wn = (
        W.partitionBy(*keys)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(0, W.unboundedFollowing)
    )
    v = F.col(value_col)
    t_us = F.unix_micros(F.col(ts_col))
    obs_t = F.when(v.isNotNull(), t_us)
    prev_v = F.last(v, ignorenulls=True).over(wp)
    prev_t = F.last(obs_t, ignorenulls=True).over(wp)
    next_v = F.first(v, ignorenulls=True).over(wn)
    next_t = F.first(obs_t, ignorenulls=True).over(wn)
    frac = (t_us - prev_t).cast("double") / (next_t - prev_t).cast("double")
    interp = (
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull(), next_v)  # before first obs (also all-null key)
        .when(next_v.isNull(), prev_v)  # after last obs
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return df.withColumn("was_null", v.isNull()).withColumn("value_interp", interp)


def funnel(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered k-step funnel: per user, the earliest time of step i that
    strictly follows their step i-1 time (unordered occurrences do not
    count). Returns one row per user who completed step 1, with columns
    ``t_1..t_k`` (nulls past their depth) and ``depth``.

    Each stage is filter → join on the user key → min-aggregate: the
    event scan is pruned to one step's rows before the shuffle, and all
    stages share the user-key partitioning.
    """
    if not steps:
        raise ValueError("funnel requires at least one step")
    cur = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col))
        .agg(F.min(ts_col).alias("t_1"))
    )
    for i, s in enumerate(steps[1:], start=2):
        prev = f"t_{i - 1}"
        nxt = (
            df.filter(F.col(type_col) == s)
            .select(user_col, F.col(ts_col).alias("_ts"))
            .join(cur.select(user_col, prev), user_col)
            .filter(F.col("_ts") > F.col(prev))
            .groupBy(user_col)
            .agg(F.min("_ts").alias(f"t_{i}"))
        )
        cur = cur.join(nxt, user_col, "left")
    depth = F.lit(1)
    for i in range(2, len(steps) + 1):
        depth = F.when(F.col(f"t_{i}").isNotNull(), F.lit(i)).otherwise(depth)
    return cur.withColumn("depth", depth.cast("long"))


def funnel_counts(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: list[str],
) -> DataFrame:
    """Funnel summary: users reaching AT LEAST each step (monotone
    conversion curve)."""
    per_user = funnel(df, user_col, type_col, ts_col, steps)
    k = len(steps)
    # coalesce: an empty per-user frame (nobody did step 1) must report
    # zeros, not a row of NULLs
    exprs = [
        F.coalesce(F.sum((F.col("depth") >= i).cast("long")), F.lit(0)).alias(
            f"n_step_{i}"
        )
        for i in range(1, k + 1)
    ]
    return per_user.agg(*exprs)


def rank_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    tie_cols: list[str],
    n: int = 4,
) -> DataFrame:
    """Per-key quantile bucketing (ntile) summarized per bucket: count,
    min, max of the value. ``tie_cols`` must make the ordering unique so
    bucket assignment is deterministic across engines and runs."""
    w = W.partitionBy(*keys).orderBy(F.col(value_col), *[F.col(c) for c in tie_cols])
    bucketed = df.withColumn("bucket", F.ntile(n).over(w))
    return bucketed.groupBy(*keys, "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )


def rank_distribution(
    df: DataFrame, keys: list[str], value_col: str
) -> DataFrame:
    """percent_rank + cume_dist of ``value_col`` within each key group.

    Ties share a rank, so the output is deterministic per ROW even
    without a unique ordering (unlike ntile). Both functions are exact
    IEEE divisions of integer rank counters — engine-portable with no
    rounding step.
    """
    w = (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy(value_col)
    return df.withColumn("pct_rank", F.percent_rank().over(w)).withColumn(
        "cume_dist", F.cume_dist().over(w)
    )


def cohort_retention(
    df: DataFrame, user_col: str, ts_col: str, unit: str = "week"
) -> DataFrame:
    """Cohort retention matrix: users bucketed by their FIRST activity
    period, counted distinct in each subsequent period.

    Two shuffles, both on bounded keys: a per-user window for the cohort
    assignment (user key — high cardinality, even), then the
    (cohort, offset) count-distinct (low cardinality, partial-agg
    combinable because distinct-by-user rides the first shuffle's
    dedup). Offsets are integer period counts — no float arithmetic.

    Rows with a NULL timestamp carry no activity period and are dropped
    (they would otherwise form a meaningless NULL-offset group).
    """
    units = {"week": 7, "day": 1}
    if unit not in units:
        raise ValueError(
            f"cohort_retention: unit must be one of {sorted(units)}, got {unit!r}"
        )
    days = units[unit]
    wu = W.partitionBy(user_col)
    base = df.filter(F.col(ts_col).isNotNull()).select(
        user_col, F.date_trunc(unit, F.col(ts_col)).alias("_bucket")
    )
    withc = base.withColumn("cohort", F.min("_bucket").over(wu))
    offset = F.floor(
        F.datediff(F.to_date("_bucket"), F.to_date("cohort")) / days
    ).cast("long")
    return (
        withc.groupBy("cohort", offset.alias("offset"))
        .agg(F.countDistinct(user_col).cast("long").alias("n_users"))
    )


def iqr_outliers(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: float = 1.5,
    range_buckets: int | None = None,
) -> DataFrame:
    """Tukey-fence outlier detection per group: fences are
    ``[q1 − k·IQR, q3 + k·IQR]`` with q1/q3 the exact type-1 quartiles
    (``grouped_quantiles``), so the bounds are actual data values ±
    single-rounded IEEE arithmetic — deterministic on any engine.

    Output, one row per key: ``(keys…, q1, q3, lo, hi, n, n_outliers)``
    — the per-group QC summary (flagging individual rows is the same
    join without the final aggregate). NULL values are excluded from
    both the quantiles and the counts.

    Plan: the quartile table is keys×2 rows — broadcast back onto the
    data, so the big side is scanned twice (once under the ranking
    window, once for the count) but never joins shuffle-to-shuffle.
    Pass ``range_buckets`` to use the two-level ranked-selection
    quantile path at scale.
    """
    q = grouped_quantiles(
        df, keys, value_col, ps=(0.25, 0.75), range_buckets=range_buckets
    )
    fences = (
        q.groupBy(*keys)
        .agg(
            F.min(F.when(F.col("p") == 0.25, F.col("q"))).alias("q1"),
            F.min(F.when(F.col("p") == 0.75, F.col("q"))).alias("q3"),
        )
        .withColumn("lo", F.col("q1") - F.lit(k) * (F.col("q3") - F.col("q1")))
        .withColumn("hi", F.col("q3") + F.lit(k) * (F.col("q3") - F.col("q1")))
    )
    data = df.filter(F.col(value_col).isNotNull()).select(*keys, value_col)
    out_of = (F.col(value_col) < F.col("lo")) | (F.col(value_col) > F.col("hi"))
    joined = (
        data.join(F.broadcast(fences), keys)
        if keys
        # keyless: fences is one row — a broadcast 1-row cross join
        else data.crossJoin(F.broadcast(fences))
    )
    return (
        joined
        .groupBy(*keys, "q1", "q3", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(out_of.cast("long")).alias("n_outliers"),
        )
        .select(*keys, "q1", "q3", "lo", "hi", "n", "n_outliers")
    )


def derive_sample_fraction(df: DataFrame, target_rows: int) -> float:
    """Fraction that bounds a hash sample of ``df`` at ~``target_rows``
    rows regardless of input size: ``min(1, target_rows / count)``.

    One planning ``count()`` — over a parquet scan this is
    metadata-cheap, and even over a computed input it is a map-side
    count-aggregate, far cheaper than the operator it sizes. This is
    what makes boundary-sample operators (grouped_quantiles
    range_buckets, range_shard) scale-safe by default: the
    single-partition window over the sample stays ~target_rows at
    100 TB instead of growing linearly with the data.
    """
    if target_rows <= 0:
        raise ValueError("target_rows must be positive")
    n = df.count()
    return 1.0 if n <= target_rows else target_rows / n


def grouped_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ps: list[float] | tuple[float, ...] = (0.25, 0.5, 0.75),
    range_buckets: int | None = None,
    sample_fraction: float | None = None,
    target_sample_rows: int = 1_000_000,
    seed: int = 0,
    assert_max_rows: int | None = None,
) -> DataFrame:
    """Exact per-key quantiles, type-1 (discrete): for each probability
    ``p`` the value at rank ``ceil(p·n)`` in value order — always an
    actual data value, never an interpolation. Long-form output
    ``(keys…, p, q)``.

    Engine-exact by construction: each ``p`` is converted to the exact
    rational its decimal literal means (Fraction('0.95') = 19/20 — the
    DOUBLE 0.95 is not 19/20, and ceil(0.95·n) on doubles misranks
    whenever the product lands an ulp above an integer), and the rank
    is integer arithmetic ``(num·n + den − 1) div den``. No
    interpolation means no float at all until the returned value; ties
    in the value column cannot change the answer because every row of a
    tie run carries the same value — so the ordering needs no
    tie-breaker columns.

    Plan, default path: ONE per-key window pass (row_number + count
    share the sort), then a |ps|-way map-side explode and a rank filter
    — no joins, no second shuffle. Its parallelism is BOUNDED BY THE
    GROUP COUNT: with 3 keys, 3 tasks sort everything (measured 13× at
    a 32× scale probe). Pass ``range_buckets=S`` for the scale path:
    rows are bucketed by S sampled global value boundaries, per-(key,
    bucket) counts become bucket offsets via a tiny per-key running
    sum, and ranking happens only WITHIN each (key, bucket) —
    parallelism keys×S, identical output by construction (bucket
    order refines value order; equal values straddling a boundary
    supply the same value at any rank). The only unkeyed window runs
    over the hash-sampled boundary rows.

    Boundary-sample sizing is scale-safe BY DEFAULT: unless
    ``sample_fraction`` is given explicitly, the fraction is derived as
    ``target_sample_rows / count`` (one cheap planning count), so the
    single-partition boundary window is bounded at ~``target_sample_rows``
    rows at ANY input size — a fixed fraction would grow it linearly
    with the data. Note the ``range_buckets`` path therefore runs TWO
    planning actions at build time (the count and the boundary
    collect); the default path stays fully lazy.

    The bound is MACHINE-CHECKED, not just documented: whenever the
    fraction is derived, a runtime ``assert_true`` piggybacks on the
    boundary window's existing ``row_number`` (zero extra passes) and
    fails the job if the sample exceeds ``2·target_sample_rows + 1024``
    (hash-sampling variance at 10⁶ rows is ±0.3%, so 2× never fires on
    a healthy derivation). ``assert_max_rows`` sets the same guard
    explicitly — on the DEFAULT path it bounds the per-key window
    itself (callers like ``range_shard`` that pre-sample and then rank
    globally pass their own sample bound here).
    """
    fracs = []
    for p in ps:
        fr = Fraction(str(p))
        if not 0 < fr <= 1:
            raise ValueError(f"quantile p={p} outside (0, 1]")
        fracs.append((float(p), fr.numerator, fr.denominator))
    base0 = df.filter(F.col(value_col).isNotNull()).select(*keys, value_col)

    def pick(base):
        # rank-filter against the per-key totals carried in _n
        arr = F.array(
            *[
                F.struct(
                    F.lit(pv).alias("p"),
                    F.expr(f"(({num} * _n + {den - 1}) div {den})").alias("rk"),
                )
                for pv, num, den in fracs
            ]
        )
        return (
            base.withColumn("_e", F.explode(arr))
            .filter(F.col("_rn") == F.col("_e.rk"))
            .select(*keys, F.col("_e.p").alias("p"), F.col(value_col).alias("q"))
        )

    if not range_buckets or range_buckets <= 1:
        w = W.partitionBy(*keys).orderBy(F.col(value_col).asc())
        wc = W.partitionBy(*keys)
        base = base0.withColumn("_rn", F.row_number().over(w)).withColumn(
            "_n", F.count(F.lit(1)).over(wc)
        )
        if assert_max_rows is not None:
            # machine-checked bound on the per-key (or, with keys=[],
            # global) window: rides the existing row_number, no extra
            # pass; the filter form keeps Catalyst from pruning it
            base = base.filter(
                F.assert_true(
                    F.col("_rn") <= F.lit(int(assert_max_rows)),
                    F.lit(
                        f"grouped_quantiles: window input exceeded the "
                        f"documented bound of {int(assert_max_rows)} rows"
                    ),
                ).isNull()
            )
        return pick(base)

    # Two-level ranked selection: bucket every row by sampled GLOBAL
    # value boundaries, compute per-(key, bucket) counts, turn their
    # per-key running sums into bucket offsets, and rank only WITHIN
    # each (key, bucket). global rank = bucket offset + within-rank is
    # exact for any bucket assignment that respects value order, and
    # equal values straddling a boundary cannot change the answer —
    # the value at a rank is the same whichever copy supplies it.
    #
    # Boundary estimation is a PLANNING action: the ≤ S-1 boundary
    # values are collected to the driver (the kmeans-centroid pattern —
    # only the boundaries ever leave the cluster) so bucket assignment
    # compiles to an unrolled literal-comparison sum inside whole-stage
    # codegen. The earlier broadcast-array + higher-order-filter form
    # kept everything lazy but evaluated interpreted per row and cost
    # 3-4× at sf0.1.
    from aeon_mecha_spark.functions.hashing import md5_long

    if sample_fraction is None:
        # size against the PRE-filter input: an upper bound on the
        # filtered row count, so the sample stays <= target while the
        # count can run as a parquet-footer metadata read (no filter
        # blocks aggregate pushdown)
        sample_fraction = derive_sample_fraction(df, target_sample_rows)
        if assert_max_rows is None:
            assert_max_rows = 2 * int(target_sample_rows) + 1024
    denom = 1_000_000
    smp = base0.filter(
        md5_long(F.col(value_col).cast("string"), seed=seed) % denom
        < int(sample_fraction * denom)
    ).select(F.col(value_col).alias("_v"))
    ws = W.orderBy("_v")
    # single-partition window over SAMPLE rows only (bounded by
    # sample_fraction); boundaries = type-1 quantiles i/range_buckets
    ranked = smp.withColumn("_srn", F.row_number().over(ws)).withColumn(
        "_sm", F.count(F.lit(1)).over(W.partitionBy())
    )
    if assert_max_rows is not None:
        # machine-checked sample bound (fires at boundary-collect time)
        ranked = ranked.filter(
            F.assert_true(
                F.col("_srn") <= F.lit(int(assert_max_rows)),
                F.lit(
                    f"grouped_quantiles: boundary sample exceeded the "
                    f"documented bound of {int(assert_max_rows)} rows"
                ),
            ).isNull()
        )
    bexprs = " OR ".join(
        f"_srn = (({i} * _sm + {range_buckets - 1}) div {range_buckets})"
        for i in range(1, range_buckets)
    )
    bounds = sorted(
        r["_v"] for r in ranked.filter(F.expr(bexprs)).select("_v").collect()
    )
    bexpr = F.lit(0)
    for b in bounds:
        bexpr = bexpr + (F.col(value_col) >= F.lit(b)).cast("int")
    bucketed = base0.withColumn("_b", bexpr)
    cnt = bucketed.groupBy(*keys, "_b").agg(F.count(F.lit(1)).alias("_c"))
    wo = W.partitionBy(*keys).orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    offsets = cnt.select(
        *keys,
        "_b",
        F.coalesce(F.sum("_c").over(wo), F.lit(0)).alias("_off"),
        F.sum("_c").over(W.partitionBy(*keys)).alias("_n"),
    )
    wb = W.partitionBy(*keys, "_b").orderBy(F.col(value_col).asc())
    base = (
        bucketed.join(F.broadcast(offsets), [*keys, "_b"])
        .withColumn("_rn", F.col("_off") + F.row_number().over(wb))
    )
    return pick(base)


def chi_square_cells(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Chi-squared association between two categorical columns, as the
    per-cell contingency table with EXACT integral test-statistic terms.

    For each (a, b) cell — including zero-observation cells of the full
    category grid — emits observed count, row/column totals, the
    expected count in exact milli-units ``(R·C·1000) div N``, and the
    chi² term in ppm: ``((O·N − R·C)² · 10⁶) div (N·R·C)``. The test
    statistic is ``sum(term_ppm)/1e6`` (sum of per-cell floors — a
    deterministic, engine-independent integral variant; each floor is
    exact, so the total undershoots true chi² by < #cells/1e6).
    Decimal(38,0) arithmetic bounds N at ~10⁸ rows of any one table
    slice; past that, pre-scale the counts (same convention as
    ``textqc.pmi_collocations``).

    Plan: ONE shuffle builds the (a, b) count table; row totals, column
    totals, and N are tiny re-aggregations of it; the full grid is the
    crossJoin of the two aggregated (small, categorical) dimension
    tables — broadcast, never the fact table. Intended for categorical
    dims: the grid is |A|·|B| rows, independent of the fact row count.
    """
    counts = df.groupBy(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("observed"))
    rows_t = counts.groupBy("a").agg(F.sum("observed").cast("long").alias("row_total"))
    cols_t = counts.groupBy("b").agg(F.sum("observed").cast("long").alias("col_total"))
    n_t = counts.agg(F.sum("observed").cast("decimal(38,0)").alias("_N"))
    grid = rows_t.crossJoin(cols_t)  # small aggregated dims only
    full = (
        grid.join(counts, ["a", "b"], "left")
        .withColumn("observed", F.coalesce(F.col("observed"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(n_t))
    )
    d = "(CAST(observed AS DECIMAL(38,0)) * _N - CAST(row_total AS DECIMAL(38,0)) * CAST(col_total AS DECIMAL(38,0)))"
    return full.select(
        "a",
        "b",
        "observed",
        "row_total",
        "col_total",
        F.expr(
            "CAST(CAST(row_total AS DECIMAL(38,0)) * CAST(col_total AS DECIMAL(38,0)) * 1000 "
            "div _N AS BIGINT)"
        ).alias("expected_milli"),
        F.expr(
            f"CAST({d} * {d} * 1000000 div "
            "(_N * CAST(row_total AS DECIMAL(38,0)) * CAST(col_total AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("term_ppm"),
    )


def winsorize(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    out_col: str | None = None,
    **quantile_kwargs,
) -> DataFrame:
    """Per-key winsorization: clip ``value_col`` to its group's exact
    type-1 [p_lo, p_hi] quantiles — the standard heavy-tail taming step
    before averaging metrics or fitting on features. Because the
    quantiles are ACTUAL data values (``grouped_quantiles``), clipped
    rows take values already present in the group: no interpolation, no
    float manufacture, engine-exact.

    Plan: one quantile pass (inherits ``grouped_quantiles``'s scale
    path via ``**quantile_kwargs``, e.g. ``range_buckets=``), the
    keys×2 bound table pivoted map-side and BROADCAST back onto the
    fact rows — the fact table never reshuffles. NULLs pass through
    unclipped.
    """
    out_col = out_col or f"{value_col}_winsorized"
    qs = grouped_quantiles(df, keys, value_col, ps=(p_lo, p_hi), **quantile_kwargs)
    bounds = qs.groupBy(*keys).agg(
        F.min(F.when(F.col("p") == float(p_lo), F.col("q"))).alias("_lo"),
        F.min(F.when(F.col("p") == float(p_hi), F.col("q"))).alias("_hi"),
    )
    clipped = F.when(
        F.col(value_col).isNotNull(),
        F.greatest(F.col("_lo"), F.least(F.col("_hi"), F.col(value_col))),
    )
    return (
        df.join(F.broadcast(bounds), keys, "left")
        .withColumn(out_col, clipped)
        .drop("_lo", "_hi")
    )


def impute(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    strategy: str = "median",
    out_col: str | None = None,
    **quantile_kwargs,
) -> DataFrame:
    """Group-wise NULL imputation — ``median`` (exact type-1 via
    ``grouped_quantiles``: always an actual group value, engine-exact),
    ``mean`` (decimal(38,6)-exact sum/count, cast once at the end), or
    ``mode`` (most frequent value, ties broken by smallest value — a
    total order, deterministic).

    Plan: one aggregation pass builds the per-key statistic table
    (keys-sized), BROADCAST back onto the fact rows; the fact table
    never reshuffles. ``keys=[]`` is rejected for ``median`` (a global
    median is a single sort — pre-bucket or pass keys); mean/mode
    degrade to a 1-row broadcast spine. ``median`` forwards
    ``**quantile_kwargs`` to ``grouped_quantiles`` — pass
    ``range_buckets=`` when the group count is far below the core
    count (the single-window path sorts each group in one task).
    """
    out_col = out_col or f"{value_col}_imputed"
    if strategy == "median":
        if not keys:
            raise ValueError("impute(median) requires keys; a global median is a single sort")
        stat = (
            grouped_quantiles(df, keys, value_col, ps=(0.5,), **quantile_kwargs)
            .select(*keys, F.col("q").alias("_fill"))
        )
    elif strategy == "mean":
        agg = F.avg(F.col(value_col).cast("decimal(38,6)")).cast("double").alias("_fill")
        stat = df.groupBy(*keys).agg(agg) if keys else df.agg(agg)
    elif strategy == "mode":
        counts = (
            df.filter(F.col(value_col).isNotNull())
            .groupBy(*keys, value_col)
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        w = W.partitionBy(*keys).orderBy(F.col("_c").desc(), F.col(value_col))
        stat = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*keys, F.col(value_col).alias("_fill"))
        )
    else:
        raise ValueError(f"unknown impute strategy {strategy!r}")
    joined = (
        df.join(F.broadcast(stat), keys, "left")
        if keys
        else df.crossJoin(F.broadcast(stat))
    )
    return joined.withColumn(
        out_col, F.coalesce(F.col(value_col), F.col("_fill"))
    ).drop("_fill")


def sequence_match(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    type_col: str,
    first: str,
    second: str,
    within,
) -> DataFrame:
    """Sequential-pattern mining: per key, how many ``first``-type
    events are followed by a ``second``-type event STRICTLY after them
    and within ``within`` (same integer units as ``ts_col`` — pass µs
    longs for exact time math). The "A then B within Δt" primitive
    behind conversion windows, alert escalation, and retry analysis —
    a time-constrained refinement of ``funnel`` (which only orders
    min-timestamps).

    Matching uses a per-key RANGE frame ``(ts+1, ts+within)`` over the
    event stream: each A-row asks "does any B fall in my window" via
    ``min(B.ts)`` over the frame — so equal-timestamp ties need no
    tie-break ordering at all (the frame is value-based, not
    row-based), and the answer is engine-exact integer arithmetic.

    Plan: one filter to the two event types (pushed to the scan), ONE
    per-key window sort, one partial-aggregated groupBy — no joins, no
    pair materialization (a naive A×B self-join is quadratic per key).

    Output: ``(keys…, n_first, n_matched, match_ppm)`` for keys with at
    least one ``first`` event.
    """
    e = df.filter(F.col(type_col).isin([first, second])).select(
        *keys, F.col(ts_col).alias("_ts"), F.col(type_col).alias("_ty")
    )
    frame = (
        W.partitionBy(*keys).orderBy(F.col("_ts").asc()).rangeBetween(1, int(within))
    )
    next_b = F.min(F.when(F.col("_ty") == second, F.col("_ts"))).over(frame)
    flagged = e.withColumn("_hit", next_b.isNotNull())
    out = (
        flagged.filter(F.col("_ty") == first)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_first"),
            F.sum(F.when(F.col("_hit"), 1).otherwise(0)).cast("long").alias("n_matched"),
        )
    )
    return out.select(
        *keys,
        "n_first",
        "n_matched",
        F.expr("(n_matched * 1000000L) div n_first").alias("match_ppm"),
    )


def cube_agg(
    df: DataFrame,
    dims: list[str],
    aggs: list[Column],
    level_col: str = "level",
) -> DataFrame:
    """Multi-dimensional CUBE aggregation over categorical dims: every
    subset of ``dims`` grouped in ONE pass, each output row tagged with
    the bitmask ``grouping_id`` (bit i set ⇔ dims[i] is rolled up) —
    the OLAP companion to ``granularity_rollup``'s time-axis ROLLUP.

    Catalyst expands the 2^|dims| grouping sets inside a single
    Expand + aggregate (one shuffle, map-side partials), not a
    |sets|-way union of scans. Rolled-up positions surface as NULL
    dim values; ``level_col`` disambiguates a rollup NULL from a data
    NULL. Keep |dims| small (each row expands 2^|dims|×).
    """
    return df.cube(*dims).agg(
        *aggs, F.grouping_id().cast("long").alias(level_col)
    )


def target_encode(
    df: DataFrame,
    keys: list[str],
    target_col: str,
    m: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Smoothed target (mean) encoding — the classic categorical→numeric
    feature: ``enc = (Σy + m·prior) / (n + m)`` with the global mean as
    the prior, shrinking rare categories toward it (m = pseudo-count
    weight).

    Engine-exact: the target is quantized to micro-units via ONE
    decimal cast of the raw column (both engines round a raw double to
    decimal identically), sums stay integral, the prior is the floor
    global micro-mean, and the encoding is integer floor division —
    ``(sum_u + m·prior_u) div (n + m)`` in micro-units. No float sum
    ever happens, so partition order is irrelevant.

    Plan: one partial-aggregated groupBy builds the per-key table; the
    1-row global prior is crossJoin-broadcast onto it. Output
    ``(keys…, n, enc_micro)`` — join it back (broadcast if keys are
    low-cardinality) to featurize rows.
    """
    u = F.col(target_col).cast("decimal(27,6)") * scale
    per_key = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(u).cast("decimal(38,0)").alias("_sum_u"),
    )
    prior = df.agg(
        F.expr(
            f"CAST(CAST(sum(CAST({target_col} AS DECIMAL(27,6)) * {scale}) AS DECIMAL(38,0)) "
            f"div count(1) AS DECIMAL(38,0))"
        ).alias("_prior_u")
    )
    return (
        per_key.crossJoin(F.broadcast(prior))
        .select(
            *keys,
            "n",
            F.expr(
                f"CAST((_sum_u + {int(m)} * _prior_u) div (n + {int(m)}) AS BIGINT)"
            ).alias("enc_micro"),
        )
    )


def mad_outliers(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: float = 3.0,
    range_buckets: int | None = None,
    **legacy_kwargs,
) -> DataFrame:
    """Robust per-group outlier flagging by Median Absolute Deviation:
    a row is an outlier when ``|x − median| > k · MAD`` where
    ``MAD = median(|x − median|)`` — the breakdown-point-0.5 companion
    to ``iqr_outliers`` (a single wild value cannot move the fence,
    unlike mean/stddev z-scores).

    Exactness: both medians are type-1 (actual data values) at rank
    ``ceil(n/2)``; ``|x − median|`` is one exactly-rounded IEEE
    subtract and the comparison against ``k·MAD`` is a fixed expression
    tree — identical in any engine, no accumulation anywhere. Note
    all-equal groups have MAD 0, flagging every deviating row — the
    standard MAD degeneracy; pre-filter or fall back to IQR for heavily
    tied data.

    Plan — ONE data-sized pass (round 10; previously two full quantile
    passes over the fact table): the distinct-(keys, value) grain with
    occurrence counts is built and PERSISTED once; the value median is
    a weighted type-1 rank selection on that grain
    (:func:`_grain_type1_quantile`, two-level prefix sum), and the
    DEVIATION grain is derived grain-side (map ``v → |v − median|``
    carrying the counts, re-aggregate ≤ grain-sized rows) — the fact
    table is never re-shuffled for the second median. Both keys-sized
    stat tables broadcast back onto ``df``. Fully lazy — unlike the
    rest of the grain-prefix family, no planning ``count()`` runs: a
    median's grain is value-dominated (continuous measures make it
    ≈ corpus-sized), so the adaptive fast path would almost never
    engage and the count is a whole extra fact-scale action; both
    passes take the bucketed path unconditionally (identical output by
    construction, 2-3 spare tiny stages when the grain happens to be
    small). ``range_buckets`` maps to the prefix-sum bucket count
    (default 1024); ``target_sample_rows`` / ``sample_fraction`` from
    the retired sampling path are accepted and ignored. Adds
    ``_median`` / ``_mad`` / ``is_outlier``.
    """
    from aeon_mecha_spark.util import track_cached

    legacy_kwargs.pop("target_sample_rows", None)
    legacy_kwargs.pop("sample_fraction", None)
    if legacy_kwargs:
        raise TypeError(f"mad_outliers: unknown kwargs {sorted(legacy_kwargs)}")
    buckets = int(range_buckets) if range_buckets and range_buckets > 1 else 1024
    grain = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, value_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    # grain_count sentinel = skip the count action, force the (always
    # exact) bucketed path — see the docstring's laziness note
    no_count = 1 << 62
    # r14 fusion (guide §2.4 — remove repeated exchanges over the same
    # grain): the value min/max pass is computed ONCE here and shared;
    # the deviation pass's bounds DERIVE from it ([0, max(mx−med,
    # med−mn)] always covers |v − med|; looser bounds only unbalance
    # buckets, never change the selection), and the deviation rows feed
    # the quantile UNAGGREGATED (duplicate _dev values sum in its bucket
    # aggregate — same selected value) — so the old per-pass min/max
    # aggregate and the (keys, _dev) re-aggregation exchange both
    # disappear. ``med`` persists (keys-sized) because the derived
    # bounds and the deviation rows reference it from several subtrees.
    mm_v = grain.groupBy(*keys).agg(
        F.min(F.col(value_col).cast("double")).alias("_mn"),
        F.max(F.col(value_col).cast("double")).alias("_mx"),
    )
    med = (
        _grain_type1_quantile(
            grain, keys, value_col, "_n", 1, 2, buckets,
            grain_count=no_count, mm=mm_v,
        )
        .select(*keys, F.col("q").alias("_median"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    dev = grain.join(F.broadcast(med), keys).select(
        *keys,
        F.abs(F.col(value_col) - F.col("_median")).alias("_dev"),
        "_n",
    )
    mm_d = mm_v.join(med, keys).select(
        *keys,
        F.lit(0.0).alias("_mn"),
        F.greatest(
            F.col("_mx") - F.col("_median"), F.col("_median") - F.col("_mn")
        ).alias("_mx"),
    )
    mad = _grain_type1_quantile(
        dev, keys, "_dev", "_n", 1, 2, buckets, grain_count=no_count, mm=mm_d
    ).select(*keys, F.col("q").alias("_mad"))
    stats = med.join(mad, keys)
    out = df.join(F.broadcast(stats), keys, "left").withColumn(
        "is_outlier",
        F.when(
            F.col(value_col).isNotNull(),
            F.abs(F.col(value_col) - F.col("_median"))
            > F.lit(float(k)) * F.col("_mad"),
        ),
    )
    return track_cached(out, grain, med)


def basket_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Pairwise association rules (market-basket support / confidence /
    lift): for every unordered item pair co-occurring in at least
    ``min_support`` baskets, the classic Agrawal-style statistics in
    EXACT ppm integers — ``support = n_ab/N``, ``confidence(a→b) =
    n_ab/n_a``, ``lift = n_ab·N/(n_a·n_b)`` — each as a single floor
    division (lift in decimal(38,0), same width convention as
    ``textqc.pmi_collocations``).

    Plan: presence table (basket, item) distinct → basket-keyed
    self-join with ``item_a < item_b`` generates pairs (fan-out bounded
    by basket size squared — baskets, not the corpus, bound the
    blow-up; cap giant baskets upstream), partial-aggregated pair
    counts, then item-count and 1-row total joins. Item counts shuffle
    on the item key; nothing global, no cross product.

    Output: ``(item_a, item_b, n_ab, n_a, n_b, support_ppm,
    confidence_ppm, lift_ppm)``.
    """
    items = df.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    n_baskets = items.agg(
        F.count_distinct(F.col("_b")).cast("decimal(38,0)").alias("_N")
    )
    counts = items.groupBy("_i").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    a = items.select(F.col("_b"), F.col("_i").alias("item_a"))
    b = items.select(F.col("_b"), F.col("_i").alias("item_b"))
    pairs = (
        a.join(b, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_support))
    )
    j = (
        pairs.join(counts.select(F.col("_i").alias("item_a"), F.col("_n").alias("n_a")), "item_a")
        .join(counts.select(F.col("_i").alias("item_b"), F.col("_n").alias("n_b")), "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    return j.select(
        "item_a",
        "item_b",
        "n_ab",
        "n_a",
        "n_b",
        F.expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * 1000000 div _N AS BIGINT)").alias(
            "support_ppm"
        ),
        F.expr("(n_ab * 1000000L) div n_a").alias("confidence_ppm"),
        F.expr(
            "CAST(CAST(n_ab AS DECIMAL(38,0)) * _N * 1000000 "
            "div (CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("lift_ppm"),
    )


def event_paths(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    type_col: str,
    order_cols: list[str] | None = None,
    depth: int = 3,
    top_n: int = 20,
    sep: str = ">",
) -> DataFrame:
    """Top journey prefixes: each key's first ``depth`` event types (in
    time order) joined into a path string, counted across keys, top
    ``top_n`` paths by (count desc, path) — the entry-funnel discovery
    primitive ("what do users actually do first").

    Determinism: ``order_cols`` (default ``[ts_col]``) should be unique
    per key; the path is assembled by sorting the collected (rank,
    type) structs — ``collect_list`` order is nondeterministic across
    partitions, ``sort_array`` makes it total again.

    Plan: one per-key window pass keeps ranks ≤ depth (everything else
    is filtered before the shuffle-side aggregate), one per-key
    aggregate builds the path, one partial-aggregated global count, and
    a distributed TakeOrdered cut — no global window anywhere.

    Output: ``(path, n_keys)``.
    """
    order_cols = order_cols or [ts_col]
    w = W.partitionBy(*keys).orderBy(*[F.col(c) for c in order_cols])
    ranked = (
        df.select(*keys, *order_cols, F.col(type_col).alias("_ty"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(depth))
    )
    per_key = ranked.groupBy(*keys).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.sort_array(F.collect_list(F.struct("_rn", "_ty"))),
                lambda s: s["_ty"],
            ),
        ).alias("path")
    )
    out = per_key.groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    return out.orderBy(F.col("n_keys").desc(), "path").limit(int(top_n))


def markov_transitions(
    df: DataFrame,
    seq_key: str,
    type_col: str,
    order_cols: list[str],
    alpha: int = 1,
) -> DataFrame:
    """First-order Markov transition model over event sequences — the
    statistical companion to ``event_paths`` (paths show WHAT journeys
    happen; this gives the per-step transition probabilities a
    generator/simulator/anomaly-scorer consumes).

    For each observed (from → to) adjacent pair within a sequence key
    (ordered by ``order_cols``, which must be unique per key for a
    deterministic successor): the pair count, the from-state total, and
    the additive-smoothed probability in exact ppm —

        ``p_ppm = (c + α)·10⁶ div (n_from + α·S)``

    with ``S`` = the number of distinct event types in the input (so
    unseen transitions implicitly get ``α·10⁶ div (n_from + α·S)``
    without materializing the S² grid). Integral throughout — one
    floor division per row, engine-exact.

    Plan: one per-key window pass (``lead`` over the sequence sort —
    state per task = one row), a partial-aggregated pair count, a
    from-keyed total join (states-sized, broadcast) and a 1-row state
    count broadcast. Nothing data-sized shuffles twice.
    Output: ``(from_type, to_type, n, n_from, p_ppm)``.
    """
    w = W.partitionBy(seq_key).orderBy(*[F.col(c).asc() for c in order_cols])
    pairs = (
        df.filter(F.col(type_col).isNotNull())
        .select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    froms = pairs.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    states = (
        df.filter(F.col(type_col).isNotNull())
        .agg(F.count_distinct(F.col(type_col)).cast("long").alias("_S"))
    )
    a = int(alpha)
    return (
        pairs.join(F.broadcast(froms), "from_type")
        .crossJoin(F.broadcast(states))
        .select(
            "from_type",
            "to_type",
            "n",
            "n_from",
            F.expr(
                f"CAST(((n + {a}) * CAST(1000000 AS DECIMAL(38,0))) div "
                f"(n_from + {a} * _S) AS BIGINT)"
            ).alias("p_ppm"),
        )
    )


def grouped_weighted_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    weight_col: str,
    ps: list[float] | tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """Exact per-key WEIGHTED quantiles, the mass analogue of
    ``grouped_quantiles``: for each probability ``p``, the smallest
    value whose running weight (in value order) reaches ``ceil(p·W)``
    where ``W`` is the key's total weight. With token counts as weights
    this answers the curation question "which document-length
    percentile covers p of the corpus tokens" — a row-count quantile
    badly misestimates it when length and mass correlate.

    Exactness: weights must be integral (token counts, byte sizes,
    row multiplicities); each ``p`` becomes its exact rational and the
    threshold ``(num·W + den − 1) div den`` is integer arithmetic.
    Equal values straddling the threshold return the same value
    whichever copy crosses it, so no value tie-break is needed; the
    running sum itself orders by (value, weight) for a deterministic
    prefix within ties.

    Plan: ONE per-key window pass computes the running weight and the
    per-key total (shared sort), then a |ps|-way map-side explode keeps
    the FIRST row at-or-past each threshold. Like ``grouped_quantiles``'s
    default path, parallelism is bounded by the key count — pre-bucket
    very large single keys the same two-level way if that ever binds.

    Output: ``(keys…, p, q, w_total)``.
    """
    fracs = []
    for p in ps:
        fr = Fraction(str(p))
        if not 0 < fr <= 1:
            raise ValueError(f"quantile p={p} outside (0, 1]")
        fracs.append((float(p), fr.numerator, fr.denominator))
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
    ).select(*keys, value_col, F.col(weight_col).cast("long").alias("_w"))
    w = W.partitionBy(*keys).orderBy(F.col(value_col).asc(), F.col("_w").asc())
    wc = W.partitionBy(*keys)
    ranked = (
        base.withColumn("_cw", F.sum("_w").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .withColumn("_wt", F.sum("_w").over(wc))
    )
    arr = F.array(
        *[
            F.struct(
                F.lit(pv).alias("p"),
                F.expr(f"(({num} * _wt + {den - 1}) div {den})").alias("th"),
            )
            for pv, num, den in fracs
        ]
    )
    hit = (
        ranked.withColumn("_e", F.explode(arr))
        # first row at-or-past the threshold: its predecessor was short
        .filter(
            (F.col("_cw") >= F.col("_e.th"))
            & (F.col("_cw") - F.col("_w") < F.col("_e.th"))
        )
    )
    return hit.select(
        *keys,
        F.col("_e.p").alias("p"),
        F.col(value_col).alias("q"),
        F.col("_wt").alias("w_total"),
    )


def auc_by_group(
    df: DataFrame,
    keys: list[str],
    label: Column,
    score_col: str,
) -> DataFrame:
    """Exact per-key ROC-AUC via the Mann–Whitney rank-sum identity,
    with full tie handling and NO floating point: AUC = (#concordant
    (pos, neg) pairs + ½·#score-tied pairs) / (n₁·n₀). The evaluation
    primitive for quality-classifier scores in a curation pipeline
    ("does this score actually separate wanted from unwanted docs"),
    computed exactly so it hash-matches any engine.

    ``label`` is a boolean Column (the positive class); rows with NULL
    score are dropped (standard sklearn behavior for missing scores is
    an error — here the caller filters, we only guard NULLs out).

    Integer form: collapse to the (key, score) grain with positive /
    negative counts, order by score, and accumulate doubled pair wins
    ``u2 = Σ_s n1_s·(2·cum_n0_below + n0_s)`` (each tie contributes 1
    instead of 2). Then ``auc_ppm = (u2 · 10⁶) div (2·n₁·n₀)`` in
    decimal(38,0) — exact floor, engine-independent.

    Plan: ONE shuffle to the (key, score) grain (partial-aggregated),
    one per-key window over DISTINCT scores (not rows — bounded by the
    score cardinality within each key), one final per-key aggregate.
    Parallelism is bounded by the key count like ``grouped_quantiles``;
    pre-bucket huge single keys the same two-level way if that binds.

    Output: ``(keys…, n_pos, n_neg, u2, auc_ppm)``.
    """
    base = df.filter(F.col(score_col).isNotNull()).select(
        *keys,
        F.col(score_col).alias("_s"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = base.groupBy(*keys, "_s").agg(
        F.sum("_y").cast("long").alias("_n1"),
        F.sum(1 - F.col("_y")).cast("long").alias("_n0"),
    )
    below = (
        W.partitionBy(*keys)
        .orderBy(F.col("_s").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    scored = g.withColumn(
        "_cum0", F.coalesce(F.sum("_n0").over(below), F.lit(0)).cast("long")
    ).withColumn(
        "_u2",
        (
            F.col("_n1").cast("decimal(38,0)")
            * (2 * F.col("_cum0") + F.col("_n0")).cast("decimal(38,0)")
        ),
    )
    agg = scored.groupBy(*keys).agg(
        F.sum("_n1").cast("long").alias("n_pos"),
        F.sum("_n0").cast("long").alias("n_neg"),
        F.sum("_u2").cast("decimal(38,0)").alias("_u2t"),
    )
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        F.col("_u2t").cast("long").alias("u2"),
        # single-class keys have no pair space: AUC undefined -> NULL
        F.expr(
            "CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
            "(_u2t * 1000000) div (2 * CAST(n_pos AS DECIMAL(38,0)) "
            "* CAST(n_neg AS DECIMAL(38,0))) END AS BIGINT)"
        ).alias("auc_ppm"),
    )


def ks_statistic(
    df: DataFrame,
    keys: list[str],
    label: Column,
    score_col: str,
) -> DataFrame:
    """Exact per-key two-sample Kolmogorov–Smirnov statistic between the
    score distributions of the positive and negative classes — the
    distribution-drift / separation companion to ``auc_by_group``
    (train-vs-serve skew checks, filter-threshold diagnostics).

    D = max over observed scores of |F₁(s) − F₀(s)| with both empirical
    CDFs evaluated at-and-including each distinct score. Kept integral
    by cross-multiplying: ``d_scaled(s) = |n₀·cum₁(s) − n₁·cum₀(s)|``,
    ``ks_ppm = (max d_scaled · 10⁶) div (n₁·n₀)`` — decimal(38,0), no
    division until the final exact floor.

    Plan: identical shape to ``auc_by_group`` — one shuffle to the
    (key, score) grain, one per-key window over distinct scores (the
    running CDFs share one sort; the per-key totals reuse the same
    partition as whole-partition frames), one final aggregate.

    Output: ``(keys…, n_pos, n_neg, d_scaled_max, ks_ppm)``.
    """
    base = df.filter(F.col(score_col).isNotNull()).select(
        *keys,
        F.col(score_col).alias("_s"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = base.groupBy(*keys, "_s").agg(
        F.sum("_y").cast("long").alias("_n1"),
        F.sum(1 - F.col("_y")).cast("long").alias("_n0"),
    )
    upto = (
        W.partitionBy(*keys)
        .orderBy(F.col("_s").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    whole = W.partitionBy(*keys)
    scored = (
        g.withColumn("_cum1", F.sum("_n1").over(upto).cast("decimal(38,0)"))
        .withColumn("_cum0", F.sum("_n0").over(upto).cast("decimal(38,0)"))
        .withColumn("_t1", F.sum("_n1").over(whole).cast("decimal(38,0)"))
        .withColumn("_t0", F.sum("_n0").over(whole).cast("decimal(38,0)"))
        .withColumn(
            "_d", F.abs(F.col("_t0") * F.col("_cum1") - F.col("_t1") * F.col("_cum0"))
        )
    )
    agg = scored.groupBy(*keys).agg(
        F.max("_t1").cast("long").alias("n_pos"),
        F.max("_t0").cast("long").alias("n_neg"),
        F.max("_d").cast("decimal(38,0)").alias("_dm"),
    )
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        F.col("_dm").cast("long").alias("d_scaled_max"),
        # a one-class key has no second CDF: KS undefined -> NULL
        F.expr(
            "CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
            "(_dm * 1000000) div (CAST(n_pos AS DECIMAL(38,0)) "
            "* CAST(n_neg AS DECIMAL(38,0))) END AS BIGINT)"
        ).alias("ks_ppm"),
    )


def skyline2d(
    df: DataFrame,
    keys: list[str],
    min_col: str,
    max_col: str,
) -> DataFrame:
    """Per-key 2-D skyline (Pareto frontier): the points not dominated
    by any other point in the same key group, where ``q`` dominates
    ``p`` iff ``q.min_col ≤ p.min_col`` and ``q.max_col ≥ p.max_col``
    with at least one strict — the classic "cheapest for its quality"
    multi-objective query (Börzsönyi et al., ICDE 2001) that plain SQL
    needs a quadratic NOT EXISTS self-join for.

    Linear-after-sort algorithm: collapse to the distinct
    (key, x, y) grain with a row count, sort each key by (x asc,
    y desc), and keep a point iff its y strictly exceeds the running
    max of all previous y — every earlier row has smaller-or-equal x,
    so a cummax ≥ y is exactly a dominator. Distinct-grain first makes
    duplicate points impossible (they'd otherwise shadow each other).

    Plan: one shuffle to the distinct grain (partial-aggregated), one
    per-key window over distinct points sharing a single sort. No
    self-join, no quadratic pair space — the NOT EXISTS oracle is
    O(n²) per key; this is O(n log n).

    Output: ``(keys…, min_col, max_col, n_rows)`` — skyline points only.
    """
    pts = (
        df.filter(F.col(min_col).isNotNull() & F.col(max_col).isNotNull())
        .groupBy(*keys, min_col, max_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    before = (
        W.partitionBy(*keys)
        .orderBy(F.col(min_col).asc(), F.col(max_col).desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("_ymax", F.max(max_col).over(before))
        .filter(F.col("_ymax").isNull() | (F.col(max_col) > F.col("_ymax")))
        .drop("_ymax")
    )


def touch_attribution(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    type_col: str,
    value_col: str,
    conversion: Column,
    order_cols: list[str] | None = None,
    none_label: str = "(none)",
) -> DataFrame:
    """First-touch / last-touch conversion attribution: for every
    conversion event, credit its value to the key's FIRST preceding
    non-conversion event type and (separately) to the LAST one — the
    two standard single-touch marketing/journey attribution models.

    ``conversion`` is a boolean Column selecting conversion events;
    ``value_col`` (double) is credited in exact cents
    (``round(value·100)`` — one IEEE multiply + half-up round, both
    engine-identical on identical input doubles) so sums are integral
    and order-independent. Conversions with no preceding touch credit
    ``none_label``.

    Plan: ONE per-key window pass (ordered by ``order_cols``, default
    ``[ts_col]`` — pass a unique tiebreaker) carries the running
    first/last non-conversion type via ``first/last(…, ignorenulls)``
    over the strictly-preceding frame; conversions then feed two
    partial-aggregated groupBys unioned into long format. No self-join
    of conversions against touches, no per-pair row blowup.

    Output: ``(touch ∈ {'first','last'}, channel, n_conversions,
    value_cents)``.
    """
    order_cols = order_cols or [ts_col]
    w = (
        W.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch_ty = F.when(~conversion, F.col(type_col))
    tagged = df.select(
        *keys,
        *order_cols,
        conversion.alias("_conv"),
        F.first(touch_ty, ignorenulls=True).over(w).alias("_first"),
        F.last(touch_ty, ignorenulls=True).over(w).alias("_last"),
        F.round(F.col(value_col) * 100).cast("long").alias("_cents"),
    ).filter(F.col("_conv"))
    out = []
    for name, col in (("first", "_first"), ("last", "_last")):
        out.append(
            tagged.groupBy(
                F.coalesce(F.col(col), F.lit(none_label)).alias("channel")
            ).agg(
                F.count(F.lit(1)).cast("long").alias("n_conversions"),
                F.sum("_cents").cast("long").alias("value_cents"),
            ).select(F.lit(name).alias("touch"), "channel", "n_conversions", "value_cents")
        )
    return out[0].unionByName(out[1])


def corr_pairs(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Exact Pearson correlation for every column pair in ONE aggregate
    pass — the numeric-profile companion to ``chi_square_cells``
    (categorical) and ``table_profile``: which measures move together.

    Inputs must be INTEGER-VALUED columns (pre-scale monetary doubles
    to cents etc.): all five moments (Σx, Σy, Σx², Σy², Σxy) accumulate
    in decimal(38,0), so partial aggregates combine exactly and the
    result is partition- and engine-independent. The correlation is
    reported as ``sign`` and ``r2_ppm = num²·10⁶ div (denx·deny)``
    (``num = n·Σxy − Σx·Σy``, ``den· = n·Σ·² − (Σ·)²``) — no sqrt, no
    float. To keep ``num²`` inside decimal(38) at any scale, all three
    terms are pre-shrunk by a SHARED factor ``k = 1 + max(|num|, denx,
    deny) div 10¹⁵`` — pure integer ops, identical in every engine, and
    ≤ 10⁻¹² relative error (beyond the ppm output grain). Constant
    columns (den = 0) report NULL r2.

    Plan: one map-side-combinable aggregate over the fact table (no
    shuffle of the facts — the single result row is the only exchange),
    then a literal |pairs|-row explode. O(k²) moments per row for k
    columns, all inside whole-stage codegen.

    Output: ``(col_a, col_b, n, sign, r2_ppm)``.
    """
    # per-row products stay in LONG (whole-stage codegen; BigDecimal
    # per-row math is ~50x slower) — the CONTRACT is that any pairwise
    # product fits int64 (ANSI mode faults loudly if not; pre-scale
    # down if your magnitudes exceed ~3e9). Only the partial-aggregate
    # accumulation runs in decimal(38,0), where exactness matters.
    dsum = lambda e: F.sum(e.cast("decimal(38,0)")).cast("decimal(38,0)")  # noqa: E731
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("_n")]
    for c in cols:
        aggs.append(dsum(F.col(c)).alias(f"_s_{c}"))
        aggs.append(dsum(F.col(c) * F.col(c)).alias(f"_ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(dsum(F.col(a) * F.col(b)).alias(f"_sp_{a}_{b}"))
    row = df.agg(*aggs)
    # The quotient arithmetic is clearer in SQL-expression form; build the
    # final projection with expr() so div (integer floor) is explicit.
    sel = []
    for a, b in pairs:
        num = f"CAST(_n * _sp_{a}_{b} - _s_{a} * _s_{b} AS DECIMAL(38,0))"
        denx = f"CAST(_n * _ss_{a} - _s_{a} * _s_{a} AS DECIMAL(38,0))"
        deny = f"CAST(_n * _ss_{b} - _s_{b} * _s_{b} AS DECIMAL(38,0))"
        k = f"CAST(1 + greatest(abs({num}), {denx}, {deny}) div 1000000000000000 AS DECIMAL(38,0))"
        # decimal `div` yields BIGINT, so each shrunk term is re-cast to
        # decimal before the products (a long*long product would overflow)
        # abs() before the shrink: Spark `div` truncates toward zero while
        # other engines' integer division may floor — non-negative
        # operands make them identical, and r² only needs |num|
        nd = f"CAST(abs({num}) div {k} AS DECIMAL(38,0))"
        xd = f"CAST({denx} div {k} AS DECIMAL(38,0))"
        yd = f"CAST({deny} div {k} AS DECIMAL(38,0))"
        sel.append(
            f"struct('{a}' AS col_a, '{b}' AS col_b, CAST(_n AS BIGINT) AS n, "
            f"CAST(sign(CAST({num} AS DOUBLE)) AS INT) AS sign, "
            f"CASE WHEN {xd} > 0 AND {yd} > 0 THEN "
            f"CAST(({nd} * {nd} * 1000000) div ({xd} * {yd}) AS BIGINT) "
            f"END AS r2_ppm)"
        )
    return row.select(
        F.explode(F.expr("array(" + ", ".join(sel) + ")")).alias("_p")
    ).select("_p.col_a", "_p.col_b", "_p.n", "_p.sign", "_p.r2_ppm")


def woe_encode(
    df: DataFrame,
    cat_col: str,
    label: Column,
    alpha: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence encoding + information value per category —
    the credit-scoring-style categorical diagnostic ("how strongly does
    this category shift the class odds, and how much total evidence
    does the column carry").

    ``woe_i = ln(((g_i+α)/G) / ((b_i+α)/B))`` carried as an INTEGER
    micro-nat (``floor(ln·10⁶ + 0.5)`` — the ``unigram_logprob``
    half-up convention: a last-ulp libm divergence only matters within
    half a micro-nat of a rounding boundary). The per-category IV term
    stays integral too: ``iv_micro = (g_i·B − b_i·G) · woe_unat div
    (G·B)`` (micro-nats; Σ/1e6 is the column's information value).

    Plan: one map-side-combinable groupBy on the category; the 1-row
    totals broadcast back. Category cardinality bounds the output, not
    the fact rows.

    Output: ``(category, n_good, n_bad, woe_unat, iv_micro)``.
    """
    base = df.select(
        F.col(cat_col).alias("category"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = base.groupBy("category").agg(
        F.sum("_y").cast("long").alias("n_good"),
        F.sum(1 - F.col("_y")).cast("long").alias("n_bad"),
    )
    totals = g.agg(
        F.sum("n_good").cast("long").alias("_G"), F.sum("n_bad").cast("long").alias("_B")
    )
    a = F.lit(float(alpha))
    full = g.crossJoin(F.broadcast(totals))
    woe = F.floor(
        F.log(
            ((F.col("n_good").cast("double") + a) / F.col("_G").cast("double"))
            / ((F.col("n_bad").cast("double") + a) / F.col("_B").cast("double"))
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return full.withColumn("woe_unat", woe).select(
        "category",
        "n_good",
        "n_bad",
        "woe_unat",
        # sign·(abs div): keeps integer division on non-negative operands
        # only, so truncating (Spark) and flooring (other engines)
        # semantics agree even when the evidence term goes negative
        F.expr(
            "CAST(sign((CAST(n_good AS DECIMAL(38,0)) * _B - CAST(n_bad AS DECIMAL(38,0)) * _G) * woe_unat) "
            "* (abs((CAST(n_good AS DECIMAL(38,0)) * _B - CAST(n_bad AS DECIMAL(38,0)) * _G) * woe_unat) "
            "div (CAST(_G AS DECIMAL(38,0)) * CAST(_B AS DECIMAL(38,0)))) AS BIGINT)"
        ).alias("iv_micro"),
    )


def cdf_transform(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Quantile normalization: map each value to its within-key empirical
    CDF in exact ppm — ``cdf_ppm = #\\{rows ≤ v\\}·10⁶ div n`` — the
    rank-uniform feature transform (ties share one CDF value, so the
    output is a pure function of (key, value): deterministic on any
    engine and partitioning, unlike percent_rank over an ambiguous row
    order).

    Plan: one per-key window with a RANGE frame (count of rows at-or-
    below the value — ties collapse into the frame, no tiebreak order
    needed) sharing a single sort with the whole-partition n. Appends
    ``cdf_ppm`` to the input row. Parallelism is bounded by the key
    count like ``grouped_quantiles``.
    """
    wv = (
        W.partitionBy(*keys)
        .orderBy(F.col(value_col).asc())
        .rangeBetween(W.unboundedPreceding, 0)
    )
    wn = W.partitionBy(*keys)
    base = df.filter(F.col(value_col).isNotNull())
    return (
        base.withColumn("_le", F.count(F.lit(1)).over(wv).cast("long"))
        .withColumn("_n", F.count(F.lit(1)).over(wn).cast("long"))
        .withColumn(
            "cdf_ppm",
            F.expr("CAST((CAST(_le AS DECIMAL(38,0)) * 1000000) div _n AS BIGINT)"),
        )
        .drop("_le", "_n")
    )


def lift_table(
    df: DataFrame,
    label: Column,
    score_col: str,
    n_buckets: int = 10,
    score_buckets: int = 1024,
) -> DataFrame:
    """Exact decile/gain table for a classifier score at the DISTINCT-
    SCORE grain: scores sort descending, each distinct score lands
    whole in the bucket its cumulative row mass starts in
    (``bucket = cum_before·B div n``) — no tie splitting, so the table
    is a pure function of the score distribution (ntile's row-order tie
    splitting is partition-ambiguous and engine-dependent; bucket
    populations here can deviate from n/B by the size of ties, which is
    the price of determinism).

    Per bucket: rows, positives, exact-ppm positive rate, cumulative
    capture (share of ALL positives found so far — the gain curve), and
    lift vs the base rate, all integer ppm via decimal div.

    Plan — the shared :func:`_grain_prefix` two-level distributed
    prefix sum (the ``token_budget_select`` pattern), so the
    distinct-score grain is never a single sort even for continuous
    scores; when the grain is provably small the helper's
    cardinality-adaptive fast path skips the bucket level (identical
    output, 2–3 fewer stages). Two proofs engage it: the r14 file-size
    bound on the scan (``spark.aeon.grain.fastPathMaxBytes``, default
    128 MB), checked FIRST; else a grain of ≤ ``score_buckets`` rows.
    So ``score_buckets`` alone does not force the bucketed plan on a
    provably small scan — set the bound to ``0`` for that.

    The distinct-score table is persisted internally (three consumers:
    min/max, bucket totals, the scored join) and rides on the result
    via ``track_cached`` — call ``release_cached`` once consumed.

    Output: ``(bucket, n, n_pos, rate_ppm, cum_capture_ppm, lift_ppm)``.

    NOTE: building this DataFrame is not always fully lazy — unless
    the scan is provably small (the r14 file-size bound, which decides
    from the driver's file listing alone), it runs one planning Spark
    action (``_grain_prefix``'s cardinality count on the persisted
    value grain, which sizes the adaptive fast path) before returning.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(score_col).isNotNull()).select(
        F.col(score_col).alias("_s"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = base.groupBy("_s").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_p"),
    ).persist(StorageLevel.MEMORY_ONLY)
    cum = _grain_prefix(
        g, "_s", ["_n", "_p"], ascending=False, buckets=int(score_buckets)
    )
    scored = cum.withColumn(
        "_cumb", (F.col("_cum_n") - F.col("_n")).cast("long")
    ).withColumn(
        "bucket",
        F.expr(
            f"CAST((CAST(_cumb AS DECIMAL(38,0)) * {int(n_buckets)}) div _tot_n AS INT)"
        ),
    ).withColumnRenamed("_tot_n", "_nt").withColumnRenamed("_tot_p", "_pt")
    agg = scored.groupBy("bucket").agg(
        F.sum("_n").cast("long").alias("n"),
        F.sum("_p").cast("long").alias("n_pos"),
        F.max("_nt").alias("_nt"),
        F.max("_pt").alias("_pt"),
    )
    wcum = W.orderBy(F.col("bucket").asc()).rowsBetween(W.unboundedPreceding, 0)
    out = (
        agg.withColumn("_cump", F.sum("n_pos").over(wcum).cast("long"))
        .select(
            "bucket",
            "n",
            "n_pos",
            F.expr(
                "CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)"
            ).alias("rate_ppm"),
            F.expr(
                "CAST(CASE WHEN _pt > 0 THEN (CAST(_cump AS DECIMAL(38,0)) * 1000000) div _pt END AS BIGINT)"
            ).alias("cum_capture_ppm"),
            F.expr(
                "CAST(CASE WHEN _pt > 0 THEN (CAST(n_pos AS DECIMAL(38,0)) * _nt * 1000000) "
                "div (CAST(n AS DECIMAL(38,0)) * _pt) END AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("bucket")
    )
    return track_cached(out, g)


def gini_by_group(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Exact per-key Gini concentration coefficient of a non-negative
    integral measure — "is the corpus's token mass spread evenly or
    owned by a few documents", the inequality diagnostic behind
    dedup/sampling decisions.

    ``G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)`` with values ascending and
    ``i`` the 1-based rank — equal values contribute the same Σ i·xᵢ
    under any tie order (swapping equal x's is a no-op), so no
    tiebreak is needed and the result is engine-independent. Emitted
    as exact ppm via decimal div with the standard sign·abs split
    (G < 0 is impossible for non-negative x, but the guard keeps the
    arithmetic uniformly floor-safe).

    Plan: one per-key window (row_number + running i·x share one
    sort), one final per-key aggregate. Same key-count parallelism
    contract as ``grouped_quantiles``.

    Output: ``(keys…, n, total, gini_ppm)``.
    """
    w = W.partitionBy(*keys).orderBy(F.col("_x").asc())
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, F.col(value_col).cast("long").alias("_x"))
        .withColumn("_i", F.row_number().over(w).cast("long"))
    )
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x").cast("long").alias("total"),
        F.sum(F.col("_i").cast("decimal(38,0)") * F.col("_x"))
        .cast("decimal(38,0)")
        .alias("_ix"),
    )
    num = (
        "(2 * _ix - (CAST(n AS DECIMAL(38,0)) + 1) * CAST(total AS DECIMAL(38,0)))"
    )
    den = "(CAST(n AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0)))"
    return agg.select(
        *keys,
        "n",
        "total",
        F.expr(
            f"CAST(CASE WHEN total > 0 THEN sign({num}) * ((abs({num}) * 1000000) div {den}) END AS BIGINT)"
        ).alias("gini_ppm"),
    )


def seasonal_anomalies(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    k: float = 1.5,
) -> DataFrame:
    """Seasonality-aware outlier QC: remove each key's hour-of-day
    baseline (the per-(key, hour) exact median), then apply Tukey
    fences to the RESIDUALS per key — catches values that are normal
    at 3 pm but anomalous at 3 am, which a flat per-key fence
    (``iqr_outliers``) averages away.

    Values must be integral (pre-scale to cents): the phase median is
    then an observed integer, residuals are exact integers, and the
    residual quartiles/fences follow ``iqr_outliers``'s raw-value
    arithmetic — hash-stable across engines.

    Plan: one groupBy pass to the (key, hour, value) grain feeds the
    phase-median windows (keys×24 partitions), medians broadcast back
    onto the facts, then the residual fences reuse the ``iqr_outliers``
    shape (quartiles per key + broadcast). Three aggregates, zero
    cartesian, fact table shuffled once per stage on its keys.

    Output: ``(keys…, hod, n, n_anomalies)`` per (key, hour-of-day).
    """
    hod = F.hour(F.col(ts_col)).alias("hod")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys, hod, F.col(value_col).cast("long").alias("_v")
    )
    med = grouped_quantiles(base, [*keys, "hod"], "_v", ps=(0.5,)).select(
        *keys, "hod", F.col("q").alias("_med")
    )
    resid = base.join(F.broadcast(med), [*keys, "hod"]).withColumn(
        "_r", F.col("_v") - F.col("_med")
    )
    q = grouped_quantiles(resid, keys, "_r", ps=(0.25, 0.75))
    fences = (
        q.groupBy(*keys)
        .agg(
            F.min(F.when(F.col("p") == 0.25, F.col("q"))).alias("_q1"),
            F.min(F.when(F.col("p") == 0.75, F.col("q"))).alias("_q3"),
        )
        .withColumn("_lo", F.col("_q1") - F.lit(k) * (F.col("_q3") - F.col("_q1")))
        .withColumn("_hi", F.col("_q3") + F.lit(k) * (F.col("_q3") - F.col("_q1")))
        .select(*keys, "_lo", "_hi")
    )
    flagged = resid.join(F.broadcast(fences), list(keys))
    out_of = (F.col("_r") < F.col("_lo")) | (F.col("_r") > F.col("_hi"))
    return flagged.groupBy(*keys, "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(out_of.cast("long")).cast("long").alias("n_anomalies"),
    )


def cohens_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Exact Cohen's kappa between two categorical labelings — the
    chance-corrected agreement score for comparing a heuristic labeler
    against ground truth (or two annotators / two model versions):
    ``κ = (pₒ − pₑ)/(1 − pₑ)`` with pₒ the observed agreement and pₑ
    the marginal-product chance agreement.

    Integral form: ``num = N·Σdiag − Σ_k nA_k·nB_k``,
    ``den = N² − Σ_k nA_k·nB_k``, ``kappa_ppm = sign·(abs(num)·10⁶ div
    den)`` in decimal(38,0) — the division runs on non-negative
    operands so truncating and flooring engines agree. κ < 0 (worse
    than chance) keeps its sign.

    Plan: one aggregate for N/diag, two marginal groupBys joined on the
    class (classes missing from either side contribute zero products,
    so the inner join is complete), everything after the first pass is
    class-cardinality-sized. Output: 1 row ``(n, n_agree, po_ppm,
    kappa_ppm)``.
    """
    base = df.select(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum((F.col("_a") == F.col("_b")).cast("long")).cast("long").alias("_diag"),
    )
    ma = base.groupBy("_a").agg(F.count(F.lit(1)).cast("long").alias("_na"))
    mb = base.groupBy("_b").agg(F.count(F.lit(1)).cast("long").alias("_nb"))
    pe = (
        ma.join(mb, ma["_a"] == mb["_b"])
        .agg(
            F.sum(F.col("_na").cast("decimal(38,0)") * F.col("_nb"))
            .cast("decimal(38,0)")
            .alias("_pe")
        )
    )
    num = "(CAST(_n AS DECIMAL(38,0)) * _diag - _pe)"
    den = "(CAST(_n AS DECIMAL(38,0)) * _n - _pe)"
    return tot.crossJoin(F.broadcast(pe)).select(
        F.col("_n").alias("n"),
        F.col("_diag").alias("n_agree"),
        F.expr(
            "CAST((CAST(_diag AS DECIMAL(38,0)) * 1000000) div _n AS BIGINT)"
        ).alias("po_ppm"),
        F.expr(
            f"CAST(CASE WHEN {den} > 0 THEN sign({num}) * "
            f"((abs({num}) * 1000000) div {den}) END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


# Benford first-digit expectations log10(1 + 1/d) in exact ppm — module
# constants so the Spark plan and every SQL oracle embed the SAME
# integers (no runtime log10 anywhere).
BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910,
               5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757}


def benford_deviation(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Benford's-law first-digit audit of a positive integral measure
    (amounts in cents) — the forensic data-quality screen for
    fabricated or truncated numeric columns.

    The first significant digit comes from the integer's STRING form
    (integer→string is identical in every engine; float log10 at
    power-of-ten boundaries is not). Expected shares are the fixed
    ``BENFORD_PPM`` constants; each digit row carries the exact
    integral chi²-style deviation term
    ``term_milli = (O·10⁶ − e·N)²·1000 div (e·N·10⁶)`` — sum/1000 is
    the test statistic. Digits with zero observations still appear
    (full 1–9 grid).

    Plan: map-side digit extraction, one 9-group aggregate, the
    literal grid joined broadcast. Output: ``(digit, observed,
    expected_milli, term_milli)``.
    """
    obs = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) > 0))
        .select(
            F.substring(F.col(value_col).cast("long").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
    )
    n = obs.agg(F.sum("observed").cast("long").alias("_N"))
    grid = obs.sparkSession.createDataFrame(
        [(d, e) for d, e in BENFORD_PPM.items()], "digit int, e_ppm long"
    )
    full = (
        grid.join(obs, "digit", "left")
        .withColumn("observed", F.coalesce(F.col("observed"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(n))
    )
    diff = "(CAST(observed AS DECIMAL(38,0)) * 1000000 - CAST(e_ppm AS DECIMAL(38,0)) * _N)"
    return full.select(
        "digit",
        "observed",
        F.expr(
            "CAST((CAST(e_ppm AS DECIMAL(38,0)) * _N) div 1000 AS BIGINT)"
        ).alias("expected_milli"),
        F.expr(
            f"CAST(({diff} * {diff} * 1000) div "
            "(CAST(e_ppm AS DECIMAL(38,0)) * _N * 1000000) AS BIGINT)"
        ).alias("term_milli"),
    ).orderBy("digit")


def constant_runs(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    min_len: int = 3,
) -> DataFrame:
    """Stuck-value detection via gaps-and-islands: per key, group
    consecutive rows (in ``order_cols`` order — pass a unique
    tiebreaker) carrying the SAME value into runs, then report run
    statistics — the classic frozen-sensor / repeated-ingest QC screen
    (the reference's QC layer flags repeated video frame timestamps the
    same way).

    Island id = row_number(key) − row_number(key, value): constant
    within a run, distinct across runs of equal values separated by
    other values. All integer window arithmetic — deterministic and
    SQL-expressible 1:1.

    Plan: two row_number windows sharing one per-key sort (the second
    partitions by (key, value) but orders identically), one island
    aggregate, one per-key rollup. Output: ``(keys…, n_rows, n_runs,
    max_run, n_stuck_runs)`` where stuck = length ≥ ``min_len``.
    """
    order = [F.col(c) for c in order_cols]
    w_key = W.partitionBy(*keys).orderBy(*order)
    w_kv = W.partitionBy(*keys, value_col).orderBy(*order)
    islands = df.select(
        *keys,
        F.col(value_col).alias("_v"),
        (F.row_number().over(w_key) - F.row_number().over(w_kv)).alias("_isl"),
    )
    runs = islands.groupBy(*keys, "_v", "_isl").agg(
        F.count(F.lit(1)).cast("long").alias("_len")
    )
    return runs.groupBy(*keys).agg(
        F.sum("_len").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("_len").cast("long").alias("max_run"),
        F.sum((F.col("_len") >= int(min_len)).cast("long")).cast("long").alias("n_stuck_runs"),
    )


def decompose_seasonal(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    order_cols: list[str] | None = None,
    half_window: int = 12,
) -> DataFrame:
    """STL-lite additive decomposition of an integral series into
    trend + hour-of-day seasonal + residual, all in milli-units of the
    input — the explainability pass before anomaly detection ("is this
    spike trend, rhythm, or genuinely unusual").

    - trend: centered moving average over ``±half_window`` rows
      (``sum·1000 div count`` — integer, shrinking frames at the series
      edges as usual);
    - seasonal: per-(key, hour-of-day) mean of the detrended series
      (``sum div count`` on milli ints);
    - residual: detrended − seasonal.

    All divisions are integer on exact sums, so the decomposition is
    partition- and engine-independent. ``order_cols`` (default
    ``[ts_col]``) must be a unique total order — ROWS frames depend on
    it.

    Plan: one per-key window (trend), one (key, hod) aggregate whose
    result broadcasts back, both over a single fact shuffle. Output:
    input keys + ``(ts, value, trend_milli, seasonal_milli,
    residual_milli)``.
    """
    order_cols = order_cols or [ts_col]
    w = (
        W.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-int(half_window), int(half_window))
    )
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(ts_col).alias("ts"),
        *[F.col(c) for c in order_cols if c != ts_col],
        F.col(value_col).cast("long").alias("value"),
        F.hour(F.col(ts_col)).alias("_hod"),
    )
    trended = base.withColumn(
        "_tsum", F.sum("value").over(w).cast("long")
    ).withColumn("_tcnt", F.count(F.lit(1)).over(w).cast("long"))
    trended = trended.withColumn(
        "trend_milli",
        F.expr("CAST((CAST(_tsum AS DECIMAL(38,0)) * 1000) div _tcnt AS BIGINT)"),
    ).withColumn("_detr", F.col("value") * 1000 - F.col("trend_milli"))
    seas = trended.groupBy(*keys, "_hod").agg(
        F.sum("_detr").cast("decimal(38,0)").alias("_ssum"),
        F.count(F.lit(1)).cast("long").alias("_scnt"),
    ).select(
        *keys,
        "_hod",
        F.expr(
            "CAST(sign(_ssum) * (abs(_ssum) div _scnt) AS BIGINT)"
        ).alias("seasonal_milli"),
    )
    out = trended.join(F.broadcast(seas), [*keys, "_hod"])
    return out.select(
        *keys,
        "ts",
        "value",
        "trend_milli",
        "seasonal_milli",
        (F.col("_detr") - F.col("seasonal_milli")).alias("residual_milli"),
    )


def rolling_median(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    window: int = 5,
) -> DataFrame:
    """Exact trailing rolling median over the last ``window`` rows per
    key — the robust smoother (spike-resistant, unlike a moving mean).

    The frame's values are collected, sorted, and the type-1 median
    (element ``ceil(n/2)``, 1-based) selected — frames shrink at the
    series start. ``collect_list`` over an ORDERED window frame is
    order-deterministic, and the sort makes the result a pure function
    of the frame's multiset anyway. ``order_cols`` must be a unique
    total order (ROWS frames). Keep ``window`` small (O(w log w) per
    row); this is the exact small-window primitive, not a quantile
    sketch.

    Plan: one per-key window pass. Appends ``rolling_median``.
    """
    w = (
        W.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-(int(window) - 1), 0)
    )
    arr = F.sort_array(F.collect_list(F.col(value_col)).over(w))
    return df.withColumn(
        "rolling_median",
        F.element_at(arr, ((F.size(arr) + F.lit(1)) / 2).cast("int")),
    )


def cusum_changepoint(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Offline CUSUM change-point detection per key: the split index
    maximizing the scaled mean-shift statistic
    ``D_i = |n·S_i − i·T|`` (``S_i`` the prefix sum, ``T`` the total) —
    integer cross-multiplication instead of subtracting a fractional
    mean, so the argmax is exact. Ties break to the earliest index.

    Returns one row per key: the change-point's order position, its
    timestamp-ish order value, and the deviation both raw
    (``dev_scaled``, units value·rows) and normalized to ppm of the
    maximum possible ``n·|T|`` (0 when T = 0). A large ``dev_ppm``
    means the series mean shifts at that point; uniform series score 0.

    Plan: prefix sum + whole-partition totals + rank share ONE per-key
    sort (three window functions, one window exchange), then a filter.
    """
    order = [F.col(c) for c in order_cols]
    wp = W.partitionBy(*keys).orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    ww = W.partitionBy(*keys)
    wr = W.partitionBy(*keys)
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys, *order_cols, F.col(value_col).cast("long").alias("_v")
    )
    scored = (
        base.withColumn("_i", F.row_number().over(W.partitionBy(*keys).orderBy(*order)).cast("long"))
        .withColumn("_s", F.sum("_v").over(wp).cast("decimal(38,0)"))
        .withColumn("_n", F.count(F.lit(1)).over(ww).cast("long"))
        .withColumn("_t", F.sum("_v").over(ww).cast("decimal(38,0)"))
        .withColumn("_d", F.expr("abs(CAST(_n AS DECIMAL(38,0)) * _s - CAST(_i AS DECIMAL(38,0)) * _t)"))
    )
    ranked = scored.withColumn(
        "_rk",
        F.row_number().over(
            W.partitionBy(*keys).orderBy(F.col("_d").desc(), F.col("_i").asc())
        ),
    ).filter(F.col("_rk") == 1)
    return ranked.select(
        *keys,
        F.col("_n").alias("n"),
        F.col("_i").alias("cp_index"),
        *[F.col(c).alias(f"cp_{c}") for c in order_cols[:1]],
        F.col("_d").cast("long").alias("dev_scaled"),
        F.expr(
            "CAST(CASE WHEN abs(_t) > 0 THEN (_d * 1000000) div "
            "(CAST(_n AS DECIMAL(38,0)) * abs(_t)) ELSE 0 END AS BIGINT)"
        ).alias("dev_ppm"),
    )


def confusion_metrics(
    df: DataFrame,
    actual_col: str,
    predicted_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 from one confusion pass — the
    full multi-class evaluation report behind a single-number kappa.

    All three metrics are exact integral ppm: ``precision = tp div
    (tp+fp)``, ``recall = tp div (tp+fn)``, and F1 via the identity
    ``2·tp / (2·tp + fp + fn)`` — no floating harmonic mean. Classes
    appearing in either column get a row (absent side contributes 0);
    undefined ratios (empty denominator) are NULL.

    Plan: one groupBy to the (actual, predicted) grain; marginals and
    the diagonal are tiny re-aggregations full-outer-joined on the
    class label. Everything after the first pass is
    class-cardinality-sized. Output: ``(label, tp, fp, fn,
    precision_ppm, recall_ppm, f1_ppm)``.
    """
    g = df.groupBy(
        F.col(actual_col).alias("_a"), F.col(predicted_col).alias("_p")
    ).agg(F.count(F.lit(1)).cast("long").alias("_c"))
    diag = g.filter(F.col("_a") == F.col("_p")).select(
        F.col("_a").alias("label"), F.col("_c").alias("tp")
    )
    act = g.groupBy(F.col("_a").alias("label")).agg(F.sum("_c").cast("long").alias("_na"))
    pred = g.groupBy(F.col("_p").alias("label")).agg(F.sum("_c").cast("long").alias("_np"))
    full = (
        act.join(pred, "label", "full_outer")
        .join(diag, "label", "left")
        .select(
            "label",
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            (F.coalesce(F.col("_np"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("long")
            .alias("fp"),
            (F.coalesce(F.col("_na"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("long")
            .alias("fn"),
        )
    )
    return full.select(
        "label",
        "tp",
        "fp",
        "fn",
        F.expr(
            "CAST(CASE WHEN tp + fp > 0 THEN (CAST(tp AS DECIMAL(38,0)) * 1000000) "
            "div (tp + fp) END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CASE WHEN tp + fn > 0 THEN (CAST(tp AS DECIMAL(38,0)) * 1000000) "
            "div (tp + fn) END AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(CASE WHEN 2 * tp + fp + fn > 0 THEN "
            "(CAST(tp AS DECIMAL(38,0)) * 2000000) div (2 * tp + fp + fn) "
            "END AS BIGINT)"
        ).alias("f1_ppm"),
    )


def categorical_kl(
    df: DataFrame,
    cat_col: str,
    split: Column,
    alpha: float = 0.5,
) -> DataFrame:
    """Smoothed KL divergence D(P‖Q) between the category distributions
    of two row populations (``split`` = true → P, false → Q) — the
    categorical drift metric that complements the KS statistic
    (numeric): "has the language/source mix shifted".

    Per category: ``p = (cP+α)/(NP+α·K)``, ``q = (cQ+α)/(NQ+α·K)``
    (K = observed category count), and the contribution
    ``term_unat = sign · (cP+α-weighted)``… carried integrally as
    ``ln(p/q)`` in micro-nats (the ``unigram_logprob`` half-up
    convention) times the exact rational weight:
    ``term = sign(w·l)·(abs((2·cP+1)·l) div (2·NP+K))`` — the ½-unit
    smoothing is cleared by doubling, so everything stays integer.
    Σ term_unat / 10⁶ is the divergence in nats.

    Plan: one groupBy on the category with conditional partial counts,
    1-row totals broadcast back. Output: ``(category, n_p, n_q,
    log_ratio_unat, term_unat)``.
    """
    if alpha != 0.5:
        raise ValueError("integral smoothing is derived for alpha=0.5 only")
    base = df.select(
        F.col(cat_col).alias("category"),
        F.when(split, F.lit(1)).otherwise(F.lit(0)).alias("_in_p"),
    )
    g = base.groupBy("category").agg(
        F.sum("_in_p").cast("long").alias("n_p"),
        F.sum(1 - F.col("_in_p")).cast("long").alias("n_q"),
    )
    tot = g.agg(
        F.sum("n_p").cast("long").alias("_NP"),
        F.sum("n_q").cast("long").alias("_NQ"),
        F.count(F.lit(1)).cast("long").alias("_K"),
    )
    full = g.crossJoin(F.broadcast(tot))
    a = 0.5
    p = (F.col("n_p").cast("double") + F.lit(a)) / (
        F.col("_NP").cast("double") + F.lit(a) * F.col("_K").cast("double")
    )
    q = (F.col("n_q").cast("double") + F.lit(a)) / (
        F.col("_NQ").cast("double") + F.lit(a) * F.col("_K").cast("double")
    )
    l_unat = F.floor(F.log(p / q) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    # weight p_i = (2*cP + 1) / (2*NP + K) exactly (α=1/2 doubled out)
    scored = full.withColumn("log_ratio_unat", l_unat)
    num = "((2 * CAST(n_p AS DECIMAL(38,0)) + 1) * log_ratio_unat)"
    den = "(2 * CAST(_NP AS DECIMAL(38,0)) + _K)"
    return scored.select(
        "category",
        "n_p",
        "n_q",
        "log_ratio_unat",
        F.expr(
            f"CAST(sign({num}) * (abs({num}) div {den}) AS BIGINT)"
        ).alias("term_unat"),
    )


def _dcg_discount_micro(k: int) -> list[int]:
    """1/log2(i+1) for ranks 1..k in exact micro-units, computed ONCE in
    Python and embedded as literals in both the Spark plan and the SQL
    oracle — no runtime logarithms anywhere."""
    import math

    return [round(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def ndcg_at_k(
    df: DataFrame,
    keys: list[str],
    relevance: Column,
    order_cols: list[Column],
    k: int = 10,
) -> DataFrame:
    """Exact NDCG@k per key for binary relevance: how well does the
    ranking implied by ``order_cols`` surface relevant items — the
    standard retrieval-quality metric, computed with a LITERAL
    micro-unit discount table (``1/log2(rank+1)``) so there is no
    float accumulation and the score hash-matches any engine.

    DCG sums the discounts at relevant ranks ≤ k; the ideal DCG takes
    the top ``min(k, n_relevant)`` discounts. ``ndcg_ppm =
    dcg_micro·10⁶ div idcg_micro``; keys with no relevant item report
    NULL.

    Plan: one per-key rank window cut at k (WindowGroupLimit-eligible)
    plus a per-key relevant-count aggregate joined broadcast; the ideal
    side is a literal-array lookup, not a second sort. Output:
    ``(keys…, n_relevant, dcg_micro, idcg_micro, ndcg_ppm)``.
    """
    disc = _dcg_discount_micro(int(k))
    cum = []
    t = 0
    for d in disc:
        t += d
        cum.append(t)  # cumulative ideal DCG for 1..k relevant items
    rel = relevance.cast("int")
    w = W.partitionBy(*keys).orderBy(*order_cols)
    ranked = (
        df.withColumn("_rel", rel)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(k))
    )
    disc_arr = F.array(*[F.lit(d) for d in disc])
    dcg = ranked.groupBy(*keys).agg(
        F.sum(
            F.when(F.col("_rel") == 1, F.element_at(disc_arr, F.col("_rn"))).otherwise(0)
        )
        .cast("long")
        .alias("dcg_micro")
    )
    nrel = (
        df.withColumn("_rel", rel)
        .groupBy(*keys)
        .agg(F.sum("_rel").cast("long").alias("n_relevant"))
    )
    cum_arr = F.array(*[F.lit(c) for c in cum])
    out = nrel.join(dcg, list(keys), "left").select(
        *keys,
        "n_relevant",
        F.coalesce(F.col("dcg_micro"), F.lit(0)).cast("long").alias("dcg_micro"),
        F.when(
            F.col("n_relevant") > 0,
            F.element_at(cum_arr, F.least(F.col("n_relevant"), F.lit(int(k))).cast("int")),
        )
        .cast("long")
        .alias("idcg_micro"),
    )
    return out.withColumn(
        "ndcg_ppm",
        F.expr(
            "CAST(CASE WHEN idcg_micro > 0 THEN "
            "(CAST(dcg_micro AS DECIMAL(38,0)) * 1000000) div idcg_micro "
            "END AS BIGINT)"
        ),
    )


def poisson1_cdf_ppm(max_k: int = 5) -> list[int]:
    """Cumulative Poisson(1) probabilities in exact-rounded ppm for
    k = 0..max_k−1, computed once in Python — the literal thresholds
    that turn a uniform hash into a deterministic Poisson draw in any
    engine (weights above ``max_k`` clamp)."""
    import math

    cum, acc, fact = [], 0.0, 1
    for k in range(max_k):
        if k:
            fact *= k
        acc += math.exp(-1.0) / fact
        cum.append(round(acc * 1_000_000))
    return cum


def bootstrap_se(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    value_col: str,
    replicates: int = 32,
    seed: int = 0,
) -> DataFrame:
    """Per-key Poisson-bootstrap standard error of the mean — the
    distributed-bootstrap construction (each row draws an independent
    Poisson(1) replication weight per replicate; no resampling pass
    over the data), made fully DETERMINISTIC: the uniform driving each
    draw is the seeded MD5 of (id, replicate), and the Poisson inverse
    CDF is a literal ppm threshold ladder — identical replicate
    weights in any engine, on any partitioning.

    Replicate means are carried as exact (Σwv, Σw) pairs, quantized to
    micro-value units only at the replicate grain, and the across-
    replicate variance uses the integral identity
    ``(R·Σm² − (Σm)²) div (R·(R−1))`` — reported as ``var_micro2``
    (micro-units²; sqrt is left to the caller, keeping the gate
    float-free). Empty replicates (possible only for tiny keys) drop
    out of R.

    Plan: one |replicates|-way literal explode (map-side; the
    combiner immediately collapses to the (key, replicate) grain — the
    ×R row blowup never shuffles), one (key, replicate) aggregate, one
    per-key aggregate. The classic scalable bootstrap: cost is
    R × the cost of one aggregation.

    Output: ``(keys…, n, mean_micro, var_micro2, n_replicates)``.
    """
    cdf = poisson1_cdf_ppm(5)
    r_arr = F.array(*[F.lit(i) for i in range(int(replicates))])
    u = md5_long(
        F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("_r").cast("string")),
        seed=seed,
    ) % 1_000_000
    wexpr = F.lit(len(cdf))
    for k in range(len(cdf) - 1, -1, -1):
        wexpr = F.when(u < cdf[k], F.lit(k)).otherwise(wexpr)
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, F.col(id_col), F.col(value_col).cast("long").alias("_v"))
        .withColumn("_r", F.explode(r_arr))
        .withColumn("_w", wexpr)
    )
    rep = base.groupBy(*keys, "_r").agg(
        F.sum(F.col("_w").cast("decimal(38,0)") * F.col("_v")).alias("_wv"),
        F.sum("_w").cast("long").alias("_wn"),
    ).filter(F.col("_wn") > 0)
    m = rep.withColumn(
        "_m",
        F.expr("CAST(sign(_wv) * ((abs(_wv) * 1000000) div _wn) AS BIGINT)"),
    )
    per_key = m.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.sum("_m").cast("decimal(38,0)").alias("_sm"),
        F.sum(F.col("_m").cast("decimal(38,0)") * F.col("_m")).alias("_sm2"),
    )
    nrows = df.filter(F.col(value_col).isNotNull()).groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(value_col).cast("decimal(38,0)")).alias("_sv"),
    )
    out = nrows.join(per_key, list(keys))
    var = (
        "(CAST(n_replicates AS DECIMAL(38,0)) * _sm2 - _sm * _sm)"
    )
    den = "(CAST(n_replicates AS DECIMAL(38,0)) * (n_replicates - 1))"
    return out.select(
        *keys,
        "n",
        F.expr("CAST(sign(_sv) * ((abs(_sv) * 1000000) div n) AS BIGINT)").alias(
            "mean_micro"
        ),
        F.expr(
            f"CAST(CASE WHEN n_replicates > 1 THEN sign({var}) * "
            f"(abs({var}) div {den}) END AS BIGINT)"
        ).alias("var_micro2"),
        "n_replicates",
    )


def quantile_map(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ref_group: str,
    value_buckets: int = 4096,
    ppm_buckets: int = 1024,
) -> DataFrame:
    """Quantile normalization BETWEEN groups (distribution matching):
    map every value onto the reference group's scale — a German doc at
    its length median maps to the English median length. The transform
    is ``v → min{u ∈ ref : cdf_ref(u) ≥ cdf_g(v)}`` — exact type-1
    inverse-CDF lookup, no interpolation, no floats.

    Scale design — every sort is bucketed, nothing runs over a
    data-sized single partition even for continuous values:

    1. Per-group CDFs use the shared :func:`_grain_prefix` two-level
       prefix sum, grouped by ``group_col`` (with the cardinality-
       adaptive fast path and the non-numeric single-window fallback).
       ``value_buckets`` defaults to 4096 here (vs 1024 elsewhere):
       the bound doubles as the fast-path threshold, and a ≤4096-row
       window is still trivially cheap, so moderately-sized grains
       skip the bucket level entirely.
    2. The inverse-CDF lookup is an AS-OF on the CDF axis, solved with
       the union-merge trick (no range join) — but PARTITIONED by ppm
       bucket (``cdf_ppm div step``, ≤ ``ppm_buckets`` buckets by
       construction since cdf_ppm ∈ [0, 10⁶]): reference boundary rows
       (PRE-REDUCED to the MINIMUM reference value per cdf_ppm, so two
       distinct reference values floor-colliding onto one ppm resolve
       deterministically to the type-1 'min u' — never row-order-
       dependent) and query rows union, each query takes the FIRST
       reference at-or-after it (queries sort before references at
       equal CDF, so the ≥ is inclusive) WITHIN its bucket, falling
       back to the first reference of any LATER bucket, precomputed on
       the tiny ``ppm_buckets``-row bucket spine.

    The distinct-(group, value) table and the CDF table are persisted
    internally (both are read twice) and ride on the result via
    ``track_cached`` — call ``release_cached`` once consumed.

    Output: input rows + ``(cdf_ppm, mapped_value)``; reference-group
    rows map onto themselves. Queries above the reference maximum CDF
    cannot happen (both CDFs end at 10⁶).

    NOTE: building this DataFrame is not always fully lazy — unless
    the scan is provably small (the r14 file-size bound, which decides
    from the driver's file listing alone), it runs one planning Spark
    action (``_grain_prefix``'s cardinality count on the persisted
    value grain, which sizes the adaptive fast path) before returning.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(value_col).isNotNull())
    g = base.groupBy(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).agg(F.count(F.lit(1)).cast("long").alias("_n")).persist(StorageLevel.MEMORY_ONLY)
    v_type = dict(g.dtypes)["_v"]
    g_type = dict(g.dtypes)["_g"]

    # -- per-group CDF over the distinct-value grain (two-level) --
    cdf = (
        _grain_prefix(
            g, "_v", ["_n"], ascending=True,
            buckets=int(value_buckets), group_cols=["_g"],
        )
        .withColumn(
            "cdf_ppm",
            F.expr(
                "CAST((CAST(_cum_n AS DECIMAL(38,0)) * 1000000) div _tot_n AS BIGINT)"
            ),
        )
        .select("_g", "_v", "cdf_ppm")
        .persist(StorageLevel.MEMORY_ONLY)
    )

    # -- ppm-bucketed union-merge as-of (cdf_ppm ∈ [0, 10⁶]) --
    step = 1_000_000 // int(ppm_buckets) + 1
    n_pb = 1_000_000 // step + 1
    # pre-reduce to min(value) per cdf_ppm: equal-cdf floor collisions
    # resolve to the minimum reference value (type-1 'min u'), matching
    # the spine's min(struct) convention — deterministic at any scale
    refs = (
        cdf.filter(F.col("_g") == ref_group)
        .groupBy(F.col("cdf_ppm").alias("_p"))
        .agg(F.min("_v").alias("_ref_v"))
        .withColumn("_tag", F.lit(1))
        .select("_p", "_tag", "_ref_v")
    )
    # tiny spine (≤ ppm_buckets+1 rows): first reference of each LATER
    # bucket, the fallback for queries with no in-bucket ref at-or-after
    rb = refs.groupBy(F.expr(f"_p div {step}").alias("_pb")).agg(
        F.min(F.struct("_p", "_ref_v")).alias("_mr")
    )
    spine = (
        base.sparkSession.range(n_pb).select(F.col("id").cast("long").alias("_pb"))
    )
    wnext = W.orderBy(F.col("_pb").asc()).rowsBetween(1, W.unboundedFollowing)
    fall = (
        spine.join(rb, "_pb", "left")
        .withColumn("_nxt", F.min("_mr").over(wnext))
        .select("_pb", F.col("_nxt._ref_v").alias("_fall_v"))
    )
    queries = cdf.select(
        F.col("cdf_ppm").alias("_p"),
        F.lit(0).alias("_tag"),
        F.lit(None).cast(v_type).alias("_ref_v"),
        "_g",
        "_v",
    )
    merged = (
        refs.select(
            "_p",
            "_tag",
            "_ref_v",
            F.lit(None).cast(g_type).alias("_g"),
            F.lit(None).cast(v_type).alias("_v"),
        )
        .unionByName(queries)
        .withColumn("_pb", F.expr(f"_p div {step}"))
    )
    after = (
        W.partitionBy("_pb")
        .orderBy(F.col("_p").asc(), F.col("_tag").asc())
        .rowsBetween(0, W.unboundedFollowing)
    )
    mapped = (
        merged.withColumn("_inb", F.first("_ref_v", ignorenulls=True).over(after))
        .filter(F.col("_tag") == 0)
        .join(F.broadcast(fall), "_pb", "left")
        .select(
            "_g",
            "_v",
            "_p",
            F.coalesce(F.col("_inb"), F.col("_fall_v")).alias("_mapped"),
        )
    )
    out = base.join(
        F.broadcast(mapped),
        (F.col(group_col) == F.col("_g")) & (F.col(value_col) == F.col("_v")),
    ).select(
        *df.columns,
        F.col("_p").alias("cdf_ppm"),
        F.col("_mapped").alias("mapped_value"),
    )
    return track_cached(out, g, cdf)


def position_attribution(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    type_col: str,
    value_col: str,
    conversion: Column,
    order_cols: list[str] | None = None,
    first_pct: int = 40,
    last_pct: int = 40,
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    conversion's value splits ``first_pct``% to the first preceding
    touch, ``last_pct``% to the most recent, and the remainder evenly
    across the middle touches — the standard 40/20/40 model that
    ``touch_attribution``'s single-touch variants bracket.

    Exact integral credit: value converts to cents, each share is an
    integer ``div`` with the REMAINDER of the middle split assigned to
    the last-listed middle touch (deterministic; credit always sums to
    the conversion's cents exactly — no lost pennies). Conversions with
    one touch give it everything; with two, the middle share splits
    between them ``first/last``-proportionally… simplified here to the
    standard degenerate rules: 1 touch → 100%, 2 touches → first+middle
    to the first, last+remainder to the last.

    Plan: one per-key window pass collects the ordered prior touch list
    per conversion (running collect_list over the preceding frame —
    list length bounded by journey length), then a map-side explode of
    per-touch credits and one channel aggregate. No joins.

    Output: ``(channel, n_touches, credit_cents)``.
    """
    order_cols = order_cols or [ts_col]
    w = (
        W.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(~conversion, F.col(type_col))
    convs = (
        df.select(
            *keys,
            *order_cols,
            conversion.alias("_conv"),
            F.filter(
                F.collect_list(touch).over(w), lambda x: x.isNotNull()
            ).alias("_touches"),
            F.round(F.col(value_col) * 100).cast("long").alias("_cents"),
        )
        .filter(F.col("_conv") & (F.size("_touches") > 0))
    )
    n = F.size("_touches")
    # sign·(abs div) — the repo convention for possibly-negative
    # numerators (refund conversions): Spark `div` truncates toward
    # zero while DuckDB `//` floors, so both the plan and the q193
    # oracle spell out trunc-toward-zero explicitly (cf. woe_encode /
    # gini_by_group).
    first_c = F.expr(
        f"CAST(sign(_cents) * ((abs(_cents) * {int(first_pct)}) div 100) AS BIGINT)"
    )
    last_c = F.expr(
        f"CAST(sign(_cents) * ((abs(_cents) * {int(last_pct)}) div 100) AS BIGINT)"
    )
    mid_total = (F.col("_cents") - first_c - last_c).cast("long")
    per_touch = convs.select(
        "_touches",
        n.alias("_n"),
        first_c.alias("_fc"),
        last_c.alias("_lc"),
        mid_total.alias("_mt"),
        F.col("_cents"),
    ).select(
        F.posexplode("_touches").alias("_i", "channel"),
        "_n",
        "_fc",
        "_lc",
        "_mt",
        "_cents",
    )
    nmid = (F.col("_n") - 2).cast("long")
    mid_share = F.expr("CAST(sign(_mt) * (abs(_mt) div (_n - 2)) AS BIGINT)")
    credit = (
        F.when(F.col("_n") == 1, F.col("_cents"))
        .when((F.col("_n") == 2) & (F.col("_i") == 0), F.col("_fc") + F.col("_mt"))
        .when((F.col("_n") == 2) & (F.col("_i") == 1), F.col("_lc"))
        .when(F.col("_i") == 0, F.col("_fc"))
        .when(F.col("_i") == F.col("_n") - 1, F.col("_lc") + F.col("_mt") - mid_share * nmid)
        .otherwise(mid_share)
    )
    return (
        per_touch.withColumn("_credit", credit.cast("long"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("_credit").cast("long").alias("credit_cents"),
        )
    )


def fleiss_kappa(
    df: DataFrame,
    subject_cols: list[str],
    category_col: str,
    n_raters: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among a FIXED number
    of raters per subject (the multi-rater generalization of the
    two-rater Cohen's kappa already gated as q171): the labeling-QA
    metric for crowd-sourced annotation batches.

    Each subject's first ``n_raters`` ratings (in ``order_cols`` order
    — deterministic take) form its rating row; subjects with fewer are
    dropped. With ``n_ij`` = ratings of subject ``i`` in category
    ``j``, ``n`` = raters/subject, ``N`` = subjects:

        ``S1 = Σ_i (Σ_j n_ij² − n)``   (per-subject agreement numerators)
        ``S2 = Σ_j C_j²`` with ``C_j = Σ_i n_ij``

        ``P̄  = S1 / (N·n·(n−1))``, ``P̄ₑ = S2 / (n²·N²)``
        ``κ  = (P̄ − P̄ₑ) / (1 − P̄ₑ)
             = (n·N·S1 − (n−1)·S2) / ((n−1)·(n²·N² − S2))``

    — one exact rational, emitted as ppm via the sign·(abs div)
    convention in decimal(38,0) (``n²N²`` ≈ 10¹⁴ at a million
    subjects; ×10⁶ clears bigint, decimal is exact). All-one-category
    data has ``P̄ₑ = 1``; kappa is NULL there (0/0, the standard
    degeneracy).

    Plan: one per-subject window keeps rank ≤ n (shuffle 1), one
    (subject, category) count + per-subject Σn² (shuffle stays on the
    subject key), one category rollup for ``C_j`` (tiny), two 1-row
    totals broadcast into a single-row result. Nothing global beyond
    the |categories|-row table.

    Output: one row ``(n_subjects, n_categories, s1, s2, pbar_ppm,
    pe_ppm, kappa_ppm)``.
    """
    order_cols = order_cols or subject_cols
    n = int(n_raters)
    w = W.partitionBy(*subject_cols).orderBy(*[F.col(c) for c in order_cols])
    taken = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(*subject_cols, F.col(category_col).alias("_cat"))
    )
    cell = taken.groupBy(*subject_cols, "_cat").agg(
        F.count(F.lit(1)).cast("long").alias("_nij")
    )
    per_subj = cell.groupBy(*subject_cols).agg(
        F.sum("_nij").cast("long").alias("_n"),
        F.sum(F.col("_nij") * F.col("_nij")).cast("long").alias("_sq"),
    ).filter(F.col("_n") == n)
    # category totals only over COMPLETE subjects (semi-join back)
    complete_cells = cell.join(
        per_subj.select(*subject_cols), subject_cols, "left_semi"
    )
    cat_tot = complete_cells.groupBy("_cat").agg(
        F.sum("_nij").cast("long").alias("_cj")
    )
    t1 = per_subj.agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects"),
        F.sum(F.col("_sq") - n).cast("long").alias("s1"),
    )
    t2 = cat_tot.agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.sum(F.col("_cj") * F.col("_cj")).cast("long").alias("s2"),
    )
    joined = t1.crossJoin(F.broadcast(t2))  # 1 row × 1 row
    nn = n * n
    num = f"(CAST({n} AS DECIMAL(38,0)) * n_subjects * s1 - {n - 1} * CAST(s2 AS DECIMAL(38,0)))"
    den = (
        f"({n - 1} * (CAST({nn} AS DECIMAL(38,0)) * n_subjects * n_subjects"
        f" - CAST(s2 AS DECIMAL(38,0))))"
    )
    return joined.select(
        "n_subjects",
        "n_categories",
        "s1",
        "s2",
        F.expr(
            f"CAST(CAST(s1 AS DECIMAL(38,0)) * 1000000 div "
            f"(CAST({n * (n - 1)} AS DECIMAL(38,0)) * n_subjects) AS BIGINT)"
        ).alias("pbar_ppm"),
        F.expr(
            f"CAST(CAST(s2 AS DECIMAL(38,0)) * 1000000 div "
            f"(CAST({nn} AS DECIMAL(38,0)) * n_subjects * n_subjects) AS BIGINT)"
        ).alias("pe_ppm"),
        F.expr(
            f"CAST(CASE WHEN {den} <> 0 THEN sign({num} * 1000000) * "
            f"((abs({num}) * 1000000) div abs({den})) END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


def psi_numeric(
    df: DataFrame,
    value_col: str,
    ref_split: Column,
    n_buckets: int = 10,
    **quantile_kwargs,
) -> DataFrame:
    """Population Stability Index between a numeric column's REFERENCE
    rows (``ref_split`` true) and CURRENT rows — the model-monitoring
    drift metric that complements ``categorical_kl`` (categories) and
    the KS gate (ranks): "has the feature's distribution moved, and in
    which deciles".

    Buckets are the reference distribution's type-1 quantile boundaries
    (``grouped_quantiles``, so the scale path with ``range_buckets``
    is inherited via kwargs); a value lands in bucket
    ``#{boundaries ≤ v}`` ∈ 0..B−1. With α=½ additive smoothing
    cleared by doubling (the ``categorical_kl`` trick), per bucket:

        ``p = (2·cR+1)/(2·NR+B)``, ``q = (2·cC+1)/(2·NC+B)``
        ``PSI_b = (p − q)·ln(p/q)``  — always ≥ 0

    carried as ``ln(p/q)`` in half-up INTEGER micro-nats times the
    exact rational ``p − q`` (cross-multiplied, decimal(38,0),
    sign·abs-div). ``Σ term_unat / 10⁶`` is the PSI in nats.

    Plan: boundaries come from the reference slice only (a ≤(B−1)-row
    table collected into ONE array literal via sort_array/collect —
    inside the plan, broadcast); bucket assignment is a map-side
    ``size(filter(...))`` over that array; one (bucket)-keyed groupBy
    with conditional partial counts; 1-row totals broadcast back.

    Output: ``(bucket, lo, n_ref, n_cur, log_ratio_unat, term_unat)``
    where ``lo`` is the bucket's lower boundary (NULL for bucket 0).
    """
    B = int(n_buckets)
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("_v"),
        F.when(ref_split, F.lit(1)).otherwise(F.lit(0)).alias("_in_ref"),
    )
    ref = base.filter(F.col("_in_ref") == 1).withColumn("_g", F.lit(1))
    # EXACT rationals k/B, not floats: float(3/10) is an ulp above 0.3,
    # and ceil(p·n) then misranks whenever p·n lands on an integer —
    # grouped_quantiles accepts Fraction inputs verbatim
    ps = tuple(Fraction(k, B) for k in range(1, B))
    bounds = (
        grouped_quantiles(ref, ["_g"], "_v", ps=ps, **quantile_kwargs)
        .agg(F.sort_array(F.collect_list("q")).alias("_bs"))
    )
    bucketed = (
        base.crossJoin(F.broadcast(bounds))
        .select(
            F.size(F.filter(F.col("_bs"), lambda b: b <= F.col("_v")))
            .cast("long")
            .alias("bucket"),
            "_bs",
            "_in_ref",
        )
        .select(
            "bucket",
            # index kept ALWAYS valid via greatest() and the result
            # gated by when(): element_at with a runtime-NULL index
            # mis-evaluates under codegen (returns the last element,
            # Spark 4.1), and a 0 index raises under ANSI
            F.when(
                F.col("bucket") > 0,
                F.element_at(
                    F.col("_bs"),
                    F.greatest(F.col("bucket"), F.lit(1)).cast("int"),
                ),
            ).alias("lo"),
            "_in_ref",
        )
    )
    g = bucketed.groupBy("bucket", "lo").agg(
        F.sum("_in_ref").cast("long").alias("n_ref"),
        F.sum(1 - F.col("_in_ref")).cast("long").alias("n_cur"),
    )
    tot = g.agg(
        F.sum("n_ref").cast("long").alias("_NR"),
        F.sum("n_cur").cast("long").alias("_NC"),
    )
    full = g.crossJoin(F.broadcast(tot))
    p = (2 * F.col("n_ref").cast("double") + 1) / (
        2 * F.col("_NR").cast("double") + F.lit(float(B))
    )
    q = (2 * F.col("n_cur").cast("double") + 1) / (
        2 * F.col("_NC").cast("double") + F.lit(float(B))
    )
    l_unat = F.floor(F.log(p / q) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    scored = full.withColumn("log_ratio_unat", l_unat)
    # p − q = [(2cR+1)(2NC+B) − (2cC+1)(2NR+B)] / [(2NR+B)(2NC+B)], exact
    num = (
        "(((2 * CAST(n_ref AS DECIMAL(38,0)) + 1) * (2 * _NC + " + str(B) + ") - "
        "(2 * CAST(n_cur AS DECIMAL(38,0)) + 1) * (2 * _NR + " + str(B) + ")) "
        "* log_ratio_unat)"
    )
    den = (
        "((2 * CAST(_NR AS DECIMAL(38,0)) + " + str(B) + ") * "
        "(2 * CAST(_NC AS DECIMAL(38,0)) + " + str(B) + "))"
    )
    return scored.select(
        "bucket",
        "lo",
        "n_ref",
        "n_cur",
        "log_ratio_unat",
        F.expr(
            f"CAST(sign({num}) * (abs({num}) div {den}) AS BIGINT)"
        ).alias("term_unat"),
    )


def wilson_lower_bound(
    df: DataFrame,
    keys: list[str],
    success: Column,
    z_centi: int = 196,
) -> DataFrame:
    """Wilson score interval lower bound for per-group success rates —
    the "how to not sort by average rating" ranking primitive: a group
    with 2/2 successes must NOT outrank one with 90/100, and the
    Wilson lower bound is the standard fix (Agresti–Coull's robust
    cousin). ``z_centi`` = z×100 (196 = 95% two-sided).

    Integer-exact: with ``z² = z_centi²/10⁴`` (EXACT — 1.96² = 3.8416
    is a 4-dp decimal), multiplying the Wilson formula through by
    ``10⁴·n`` gives

        ``lb = (10⁴·s·n + (z²10⁴/2)·n − isqrt(R)) / (n·(10⁴·n + z²10⁴))``
        ``R  = z²10⁴ · (10⁴·s·(n−s)·n + (z²10⁴/4)·n²)``

    where every quantity is integral (decimal(38,0); R ≈ 10²⁶ at
    n = 10⁶) and ``isqrt`` is the EXACT floor square root: a double
    ``sqrt`` seed (which may be off by ~10³ once R exceeds 2⁵³)
    followed by two integer Newton steps ``s ← (s + R div s) div 2``
    (quadratic convergence: seed error ε → ε²/2√R < 1) and a final
    ±1 clamp — the result is the mathematically exact floor, so it is
    identical in any engine REGARDLESS of the engine's sqrt rounding.
    ``lb_milli`` is the floor of 1000×lb: deterministic ranking, no
    floats anywhere in the comparison path.

    Plan: one partial-aggregated groupBy; everything after is a fixed
    per-row expression tree. Output: ``(keys…, n, n_success,
    lb_milli)``; groups emit NULL lb for n = 0 (cannot happen — groups
    come from rows) — n ≥ 1 always.
    """
    zz4 = int(z_centi) * int(z_centi)  # z²·10⁴, exact integer
    if zz4 % 4 != 0:
        # zz4/2 and zz4/4 must stay integral (else double the whole
        # rational through) — every even z_centi qualifies
        raise ValueError("z_centi must be even so z²·10⁴ divides by 4 (e.g. 196)")
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(success, 1).otherwise(0)).cast("long").alias("n_success"),
    )
    # R and the exact integer square root (seed + 2 Newton + clamp)
    r_expr = (
        f"CAST({zz4} AS DECIMAL(38,0)) * "
        f"(10000 * CAST(n_success AS DECIMAL(38,0)) * (n - n_success) * n "
        f"+ {zz4 // 4} * CAST(n AS DECIMAL(38,0)) * n)"
    )
    g = g.withColumn("_R", F.expr(r_expr))
    g = g.withColumn(
        "_s0",
        F.expr("CAST(greatest(floor(sqrt(CAST(_R AS DOUBLE))), 1.0) AS DECIMAL(38,0))"),
    )
    # Newton quotients fit bigint (≤~10¹³) but must be re-widened to
    # decimal before squaring in the clamp (10²⁶ overflows bigint)
    g = g.withColumn(
        "_s1", F.expr("CAST((_s0 + _R div _s0) div 2 AS DECIMAL(38,0))")
    )
    g = g.withColumn(
        "_s2", F.expr("CAST((_s1 + _R div _s1) div 2 AS DECIMAL(38,0))")
    )
    g = g.withColumn(
        "_isq",
        F.expr(
            "CASE WHEN (_s2 + 1) * (_s2 + 1) <= _R THEN _s2 + 1 "
            "WHEN _s2 * _s2 > _R THEN _s2 - 1 ELSE _s2 END"
        ),
    )
    num = (
        f"(10000 * CAST(n_success AS DECIMAL(38,0)) * n "
        f"+ {zz4 // 2} * CAST(n AS DECIMAL(38,0)) - _isq)"
    )
    den = f"(CAST(n AS DECIMAL(38,0)) * (10000 * n + {zz4}))"
    return g.select(
        *keys,
        "n",
        "n_success",
        F.expr(
            f"CAST(CASE WHEN {num} >= 0 THEN ({num} * 1000) div {den} "
            f"ELSE 0 END AS BIGINT)"
        ).alias("lb_milli"),
    )


def _with_exact_isqrt(df: DataFrame, src: str, out: str) -> DataFrame:
    """Append ``out`` = exact floor square root of decimal(38,0) column
    ``src`` (NULL/negative → NULL): double ``sqrt`` seed + two integer
    Newton steps + ±1 clamp — the ``wilson_lower_bound`` construction,
    exact regardless of the engine's float sqrt rounding (seed error ε
    → ε²/2√R < 1 after two quadratic steps for R < 10³⁸)."""
    t0, t1, t2 = f"{out}_s0", f"{out}_s1", f"{out}_s2"
    return (
        df.withColumn(
            t0,
            F.expr(
                f"CASE WHEN {src} >= 0 THEN "
                f"CAST(greatest(floor(sqrt(CAST({src} AS DOUBLE))), 1.0) AS DECIMAL(38,0)) END"
            ),
        )
        .withColumn(
            t1,
            F.expr(
                f"CAST(({t0} + {src} div greatest({t0}, 1)) div 2 AS DECIMAL(38,0))"
            ),
        )
        .withColumn(
            t2,
            F.expr(
                f"CAST(({t1} + {src} div greatest({t1}, 1)) div 2 AS DECIMAL(38,0))"
            ),
        )
        .withColumn(
            out,
            F.expr(
                f"CASE WHEN ({t2} + 1) * ({t2} + 1) <= {src} THEN {t2} + 1 "
                f"WHEN {t2} * {t2} > {src} THEN {t2} - 1 ELSE {t2} END"
            ),
        )
        .drop(t0, t1, t2)
    )


def spearman_by_group(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
    rank_buckets: int = 1024,
) -> DataFrame:
    """Spearman rank correlation per key, tie-correct and integer-exact:
    Pearson on AVERAGE ranks, carried as DOUBLED ranks so ties stay
    integral (``dr = 2·rank + tie_count − 1``; the average rank of a
    tie block rank..rank+t−1 is rank+(t−1)/2, doubled to an integer).

    ``rho_ppm = sign(num) · min(10⁶, |num|·10⁶ div (isqrt(dx)·isqrt(dy)))``
    with ``num = n·Σxy − Σx·Σy``, ``dx = n·Σx² − (Σx)²``, ``dy`` likewise
    — all decimal(38,0), and ``isqrt`` the exact floor square root. The
    floored isqrt UNDERestimates each denominator factor by < 1 part in
    isqrt(d) (relative error ~2/√d — ppm-level once per-key n is in the
    thousands, visible only for tiny keys), always UPWARD, so the
    min-clamp pins perfect correlations at exactly ±10⁶ and the
    convention is IDENTICAL in any engine (no float sqrt in the
    comparison path). Degenerate keys (constant x or y → dx·dy = 0)
    report NULL. Per-key n must stay below ~10⁹ so n·Σx² < 10³⁸
    (doubled ranks ≤ 2n).

    Plan — DE-SERIALIZED (round 9), single-prefix (round 10): the
    doubled rank of a row depends only on its (key, value), so ranks
    are computed on the distinct-value grain via the shared
    :func:`_grain_prefix` two-level bucketed prefix sum
    (``dr = 2·cum_incl − n_v + 1``, since rank = cum_excl+1 and ties =
    n_v) — parallelism scales with the VALUE grain, not the key count
    (the old per-key rank windows serialized a 3-key corpus onto 3
    tasks). The cross-moment Σ drx·dry needs the (x, y) pairing, so
    sums run over the distinct (key, x, y) grain weighted by its count
    — never over data-sized rows. Fixed-cost shape (round 10): fully
    lazy — no planning count (the always-exact bucketed prefix path is
    taken unconditionally, the mad_outliers trade), and when x and y
    share a dtype both value grains stack into a SINGLE axis-tagged
    ``_grain_prefix`` pass (group = keys + axis) — one min/max pass,
    one bucket aggregate, one offset window instead of two of each.
    The pair grain and the rank table are persisted and ride on the
    result via ``track_cached``.

    Output: ``(keys…, n, rho_ppm)``.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).select(
        *keys, F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    )
    gxy = (
        base.groupBy(*keys, "_x", "_y")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    # fully lazy (round 10): like mad_outliers, skip the planning count
    # and always take the (exact either way) bucketed path — a rank
    # statistic's value grain is continuous-value-dominated, so the
    # adaptive fast path would almost never engage and the count is a
    # whole extra job wave over the pair grain
    n_pairs = 1 << 62
    dr = (2 * F.col("_cum_n") - F.col("_n") + 1).cast("long")
    dtypes = dict(gxy.dtypes)
    cached = [gxy]
    if dtypes["_x"] == dtypes["_y"]:
        # same dtype → stack both value grains on an axis tag and rank
        # them in ONE prefix pass; the tag joins the group columns, so
        # ranks stay per (key, axis) exactly as two separate passes
        gv = (
            gxy.select(*keys, F.lit(0).alias("_ax"), F.col("_x").alias("_v"), "_c")
            .unionByName(
                gxy.select(*keys, F.lit(1).alias("_ax"), F.col("_y").alias("_v"), "_c")
            )
            .groupBy(*keys, "_ax", "_v")
            .agg(F.sum("_c").cast("long").alias("_n"))
            .persist(StorageLevel.MEMORY_ONLY)  # read twice by _grain_prefix
        )
        cv = _grain_prefix(
            gv, "_v", ["_n"], ascending=True, buckets=int(rank_buckets),
            group_cols=[*keys, "_ax"], grain_count=2 * n_pairs,
        ).persist(StorageLevel.MEMORY_ONLY)  # read twice: axis 0 and 1
        cx = cv.filter(F.col("_ax") == 0).select(
            *keys, F.col("_v").alias("_x"), dr.alias("_drx")
        )
        cy = cv.filter(F.col("_ax") == 1).select(
            *keys, F.col("_v").alias("_y"), dr.alias("_dry")
        )
        cached += [gv, cv]
    else:
        gx = (
            gxy.groupBy(*keys, "_x")
            .agg(F.sum("_c").cast("long").alias("_n"))
            .persist(StorageLevel.MEMORY_ONLY)
        )
        gy = (
            gxy.groupBy(*keys, "_y")
            .agg(F.sum("_c").cast("long").alias("_n"))
            .persist(StorageLevel.MEMORY_ONLY)
        )
        cx = _grain_prefix(
            gx, "_x", ["_n"], ascending=True, buckets=int(rank_buckets),
            group_cols=keys, grain_count=n_pairs,
        ).select(*keys, "_x", dr.alias("_drx"))
        cy = _grain_prefix(
            gy, "_y", ["_n"], ascending=True, buckets=int(rank_buckets),
            group_cols=keys, grain_count=n_pairs,
        ).select(*keys, "_y", dr.alias("_dry"))
        cached += [gx, gy]
    paired = gxy.join(cx, [*keys, "_x"]).join(cy, [*keys, "_y"])
    c = F.col("_c").cast("decimal(38,0)")
    g = paired.groupBy(*keys).agg(
        F.sum("_c").cast("decimal(38,0)").alias("_n"),
        F.sum(c * F.col("_drx")).cast("decimal(38,0)").alias("_sx"),
        F.sum(c * F.col("_dry")).cast("decimal(38,0)").alias("_sy"),
        F.sum(c * F.col("_drx") * F.col("_drx")).alias("_sxx"),
        F.sum(c * F.col("_dry") * F.col("_dry")).alias("_syy"),
        F.sum(c * F.col("_drx") * F.col("_dry")).alias("_sxy"),
    )
    g = (
        g.withColumn("_num", F.expr("_n * _sxy - _sx * _sy"))
        .withColumn("_dx", F.expr("_n * _sxx - _sx * _sx"))
        .withColumn("_dy", F.expr("_n * _syy - _sy * _sy"))
    )
    g = _with_exact_isqrt(g, "_dx", "_rx")
    g = _with_exact_isqrt(g, "_dy", "_ry")
    out = g.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        F.expr(
            "CAST(CASE WHEN _dx > 0 AND _dy > 0 THEN "
            "sign(_num) * least(CAST(1000000 AS DECIMAL(38,0)), "
            "(abs(_num) * 1000000) div (_rx * _ry)) END AS BIGINT)"
        ).alias("rho_ppm"),
    )
    return track_cached(out, *cached)


def mann_whitney_u(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    split: Column,
) -> DataFrame:
    """Mann–Whitney U (rank-sum) statistic per key between two row
    populations (``split`` = true → sample A, false → B), tie-correct
    via average ranks and carried DOUBLED so everything is integral:

        ``u2_a = Σ_A dr − n_a·(n_a + 1)``    (= 2·U_A exactly)

    with ``dr = 2·rank + tie_count − 1`` over the COMBINED per-key
    ranking of ``value_col``. ``u2_a + u2_b = 2·n_a·n_b`` always (a
    built-in sanity identity), and under H₀ u2 centers on n_a·n_b.
    Integer-exact in any engine; the caller applies whatever normal
    approximation it wants downstream.

    Plan — DE-SERIALIZED (round 9): ``dr`` depends only on (key,
    value), so everything runs on the distinct-value grain — one grain
    groupBy (carrying the per-value A-count), the shared
    :func:`_grain_prefix` two-level prefix sum for the cumulative
    counts (``dr = 2·cum_incl − n_v + 1``), and one weighted per-key
    aggregate. NO data-sized window, NO join back to the fact rows;
    parallelism scales with the value grain, not the key count. The
    grain is persisted inside ``_grain_prefix``'s consumers and rides
    on the result via ``track_cached``. Output:
    ``(keys…, n_a, n_b, u2_a, u2_b)``.

    Fully lazy (round 10): the always-exact bucketed prefix path is
    taken unconditionally — a rank statistic's grain is continuous-
    value-dominated, so the adaptive fast path's planning count was a
    spare job wave.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col).alias("_v"),
        F.when(split, F.lit(1)).otherwise(F.lit(0)).alias("_a"),
    )
    grain = (
        base.groupBy(*keys, "_v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_a").cast("long").alias("_na"),
        )
        .persist(StorageLevel.MEMORY_ONLY)
    )
    cum = _grain_prefix(
        grain, "_v", ["_n"], ascending=True, buckets=1024, group_cols=keys,
        grain_count=1 << 62,  # lazy: always-bucketed (continuous grain)
    ).withColumn("_dr", (2 * F.col("_cum_n") - F.col("_n") + 1).cast("long"))
    g = cum.groupBy(*keys).agg(
        F.sum("_na").cast("long").alias("n_a"),
        F.sum(F.col("_n") - F.col("_na")).cast("long").alias("n_b"),
        F.sum(F.col("_na") * F.col("_dr")).cast("long").alias("_ra"),
        F.sum((F.col("_n") - F.col("_na")) * F.col("_dr")).cast("long").alias("_rb"),
    )
    out = g.select(
        *keys,
        "n_a",
        "n_b",
        F.expr("_ra - n_a * (n_a + 1)").cast("long").alias("u2_a"),
        F.expr("_rb - n_b * (n_b + 1)").cast("long").alias("u2_b"),
    )
    return track_cached(out, grain)


def cliffs_delta(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    split: Column,
) -> DataFrame:
    """Cliff's delta (the ordinal, nonparametric effect size that
    belongs next to ``mann_whitney_u``'s significance statistic):

        ``delta = (#(a > b) − #(a < b)) / (n_a · n_b)``  ∈ [−1, 1]

    over all cross pairs (a ∈ A, b ∈ B) per key — reported in exact
    ppm with the engine-portable signed floor convention
    ``sign(gt−lt) · (|gt−lt|·10⁶ div (n_a·n_b))`` (Spark ``div``
    truncates where DuckDB ``//`` floors; sign·abs makes them agree).
    The raw pair counts ``gt``/``lt`` ride along so callers can apply
    any downstream normalization exactly.

    Plan — never the O(n_a·n_b) pair join: on the distinct-value grain,
    ``#(a > b) = Σ_v n_a(v) · cumB_below(v)`` — one grain groupBy, the
    shared :func:`_grain_prefix` cumulative B-count, one weighted
    aggregate, exactly ``mann_whitney_u``'s shape (no data-sized
    window, no join back to fact rows). n_a·n_b products run in
    decimal(38,0) — safe to per-key n ~10⁹.

    Output: ``(keys…, n_a, n_b, gt, lt, delta_ppm)``.

    Fully lazy (round 10): the always-exact bucketed prefix path is
    taken unconditionally — a rank statistic's grain is continuous-
    value-dominated, so the adaptive fast path's planning count was a
    spare job wave.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col).alias("_v"),
        F.when(split, F.lit(1)).otherwise(F.lit(0)).alias("_a"),
    )
    grain = (
        base.groupBy(*keys, "_v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_a").cast("long").alias("_na"),
        )
        .withColumn("_nb", (F.col("_n") - F.col("_na")).cast("long"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    cum = _grain_prefix(
        grain, "_v", ["_nb"], ascending=True, buckets=1024, group_cols=keys,
        grain_count=1 << 62,  # lazy: always-bucketed (continuous grain)
    )
    na_dec = F.col("_na").cast("decimal(38,0)")
    g = cum.groupBy(*keys).agg(
        F.sum("_na").cast("long").alias("n_a"),
        F.sum("_nb").cast("long").alias("n_b"),
        F.sum(na_dec * (F.col("_cum_nb") - F.col("_nb"))).alias("_gt"),
        F.sum(na_dec * (F.col("_tot_nb") - F.col("_cum_nb"))).alias("_lt"),
    )
    out = g.select(
        *keys,
        "n_a",
        "n_b",
        F.col("_gt").cast("long").alias("gt"),
        F.col("_lt").cast("long").alias("lt"),
        F.expr(
            "CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN "
            "sign(_gt - _lt) * ((abs(_gt - _lt) * 1000000) div "
            "(CAST(n_a AS DECIMAL(38,0)) * n_b)) END AS BIGINT)"
        ).alias("delta_ppm"),
    )
    return track_cached(out, grain)


def roc_points(
    df: DataFrame,
    label: Column,
    score_col: str,
    score_buckets: int = 1024,
) -> DataFrame:
    """Full ROC curve at every distinct score threshold: predicted
    positive iff ``score ≥ threshold``, thresholds sweep the distinct
    scores descending — ``(tpr_ppm, fpr_ppm)`` per threshold in exact
    ppm (the curve q156's scalar AUC integrates).

    Scale design — the shared :func:`_grain_prefix` two-level prefix
    sum (with its cardinality-adaptive fast path and non-numeric
    fallback): no unpartitioned window ever touches the score grain.
    The distinct-score table is persisted (three readers) and rides on
    the result via ``track_cached``.

    Output: ``(score, n_ge, tpr_ppm, fpr_ppm)`` ordered by score desc —
    one row per distinct score; ``n_ge`` = rows at-or-above it.

    NOTE: building this DataFrame is not always fully lazy — unless
    the scan is provably small (the r14 file-size bound, which decides
    from the driver's file listing alone), it runs one planning Spark
    action (``_grain_prefix``'s cardinality count on the persisted
    value grain, which sizes the adaptive fast path) before returning.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(score_col).isNotNull()).select(
        F.col(score_col).alias("_s"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = base.groupBy("_s").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_p"),
    ).persist(StorageLevel.MEMORY_ONLY)
    cum = _grain_prefix(
        g, "_s", ["_n", "_p"], ascending=False, buckets=int(score_buckets)
    )
    out = cum.select(
        F.col("_s").alias("score"),
        F.col("_cum_n").alias("n_ge"),
        F.expr(
            "CAST(CASE WHEN _tot_p > 0 THEN "
            "(CAST(_cum_p AS DECIMAL(38,0)) * 1000000) div _tot_p END AS BIGINT)"
        ).alias("tpr_ppm"),
        F.expr(
            "CAST(CASE WHEN _tot_n - _tot_p > 0 THEN "
            "(CAST(_cum_n - _cum_p AS DECIMAL(38,0)) * 1000000) div "
            "(_tot_n - _tot_p) END AS BIGINT)"
        ).alias("fpr_ppm"),
    ).orderBy(F.col("score").desc())
    return track_cached(out, g)


def jensen_shannon(
    df: DataFrame,
    cat_col: str,
    split: Column,
    alpha: float = 0.5,
) -> DataFrame:
    """Smoothed Jensen–Shannon divergence terms between the category
    distributions of two row populations (``split`` = true → P, false →
    Q) — the SYMMETRIC, bounded (≤ ln 2) cousin of ``categorical_kl``,
    the standard corpus-mix drift metric when neither side is the
    "reference".

    Same integral conventions as ``categorical_kl`` (α = ½ smoothing
    doubled out: ``p = (2·cP+1)/(2·NP+K)``; log ratios in micro-nats,
    half-up floor): with ``m = (p+q)/2``,

        ``term = ½·p·ln(p/m) + ½·q·ln(q/m)``

    carried as ``sign·(abs(wP·l_pm) div (4·NP'·…))``-style exact
    rational weights — each half-term is an integer div; Σ term_unat /
    10⁶ is the divergence in nats. The ln itself is float (the q112
    micro-nat convention; a ±1-µnat oracle red here is libm ulp drift,
    not an engine bug).

    Plan: one category groupBy with conditional partial counts, 1-row
    totals broadcast back, fixed expression tree. Output:
    ``(category, n_p, n_q, log_pm_unat, log_qm_unat, term_unat)``.
    """
    if alpha != 0.5:
        raise ValueError("integral smoothing is derived for alpha=0.5 only")
    base = df.select(
        F.col(cat_col).alias("category"),
        F.when(split, F.lit(1)).otherwise(F.lit(0)).alias("_in_p"),
    )
    g = base.groupBy("category").agg(
        F.sum("_in_p").cast("long").alias("n_p"),
        F.sum(1 - F.col("_in_p")).cast("long").alias("n_q"),
    )
    tot = g.agg(
        F.sum("n_p").cast("long").alias("_NP"),
        F.sum("n_q").cast("long").alias("_NQ"),
        F.count(F.lit(1)).cast("long").alias("_K"),
    )
    full = g.crossJoin(F.broadcast(tot))
    p = (2 * F.col("n_p").cast("double") + 1) / (
        2 * F.col("_NP").cast("double") + F.col("_K").cast("double")
    )
    q = (2 * F.col("n_q").cast("double") + 1) / (
        2 * F.col("_NQ").cast("double") + F.col("_K").cast("double")
    )
    m = (p + q) / 2
    scored = full.withColumn(
        "log_pm_unat", F.floor(F.log(p / m) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    ).withColumn(
        "log_qm_unat", F.floor(F.log(q / m) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )
    # ½·p·l = (2·cP+1)·l div (4·NP+2·K), exactly (α=½ doubled out twice)
    nump = "((2 * CAST(n_p AS DECIMAL(38,0)) + 1) * log_pm_unat)"
    denp = "(4 * CAST(_NP AS DECIMAL(38,0)) + 2 * _K)"
    numq = "((2 * CAST(n_q AS DECIMAL(38,0)) + 1) * log_qm_unat)"
    denq = "(4 * CAST(_NQ AS DECIMAL(38,0)) + 2 * _K)"
    return scored.select(
        "category",
        "n_p",
        "n_q",
        "log_pm_unat",
        "log_qm_unat",
        F.expr(
            f"CAST(sign({nump}) * (abs({nump}) div {denp}) "
            f"+ sign({numq}) * (abs({numq}) div {denq}) AS BIGINT)"
        ).alias("term_unat"),
    )


def hhi_concentration(
    df: DataFrame,
    keys: list[str],
    entity_col: str,
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per key: Σ over
    entities of (entity share)² — "is this market/source/shard owned by
    a few entities", the concentration diagnostic behind corpus-mixture
    and dedup decisions (complement of ``gini_by_group``: HHI weights
    the HEAD, Gini the spread).

    Exact ppm without per-entity division: ``hhi_ppm = (Σ c_i²)·10⁶
    div N²`` — one decimal div at the end, so no floor-error
    accumulation across entities and the result is engine-exact.
    Bounds: ppm of 1/K (even split) … 10⁶ (monopoly). Per-key N must
    stay below ~10¹⁵ so c²·10⁶ < 10³⁸.

    Plan: two partial-aggregated groupBys (entity grain → key grain),
    no windows, no joins. Output: ``(keys…, n, n_entities, hhi_ppm)``.
    """
    ent = df.groupBy(*keys, F.col(entity_col).alias("_e")).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    g = ent.groupBy(*keys).agg(
        F.sum("_c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c")).alias("_cc"),
    )
    return g.select(
        *keys,
        "n",
        "n_entities",
        F.expr(
            "CAST((_cc * 1000000) div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("hhi_ppm"),
    )


def acf_by_group(
    df: DataFrame,
    keys: list[str],
    order_col: str | list[str],
    value_col: str,
    max_lag: int = 5,
) -> DataFrame:
    """Sample autocorrelation per key at lags 1..``max_lag`` — the
    seasonality/stickiness diagnostic behind ``decompose_seasonal`` and
    ``ewma``: how much does a series remember its recent past.

    Convention: Pearson correlation between the overlapping pairs
    ``(x_t, x_{t+L})`` (the variant that renormalizes per lag —
    well-defined without stationarity assumptions), under the
    ``corr_pairs`` integer contract: ``value_col`` must be
    INTEGER-VALUED (pre-scale monetary doubles to cents), all five
    moments accumulate in decimal(38,0), and

        ``r_ppm = sign(num) · min(10⁶, |num|·10⁶ div (isqrt(dx)·isqrt(dy)))``

    with the exact floor ``isqrt`` (double seed + 2 Newton steps +
    clamp — the q206/q207 construction), so no float sqrt or
    accumulation order is in the comparison path. Lags with fewer than
    2 pairs or a constant side report NULL.

    ``order_col`` may be a list — pass a tie-breaking suffix (e.g.
    ``["ts", "event_id"]``) whenever the primary order can collide, or
    the lag pairing is nondeterministic.

    Plan: ONE per-key window pass computes all ``max_lag`` leads (they
    share the sort), a literal |lags|-row explode, one groupBy per
    (key, lag) — parallel across keys, map-side-combinable moments.
    Output: ``(keys…, lag, n_pairs, r_ppm)``.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = W.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_cols])
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys, *order_cols, F.col(value_col).cast("long").alias("_x")
    )
    led = base.select(
        *keys,
        "_x",
        *[
            F.lead("_x", lag).over(w).alias(f"_y{lag}")
            for lag in range(1, int(max_lag) + 1)
        ],
    )
    pairs = led.select(
        *keys,
        "_x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lag).alias("_lag"), F.col(f"_y{lag}").alias("_y")
                    )
                    for lag in range(1, int(max_lag) + 1)
                ]
            )
        ).alias("_e"),
    ).select(*keys, "_x", F.col("_e._lag").alias("lag"), F.col("_e._y").alias("_y"))
    dsum = lambda e: F.sum(e.cast("decimal(38,0)")).cast("decimal(38,0)")  # noqa: E731
    g = (
        pairs.filter(F.col("_y").isNotNull())
        .groupBy(*keys, "lag")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
            dsum(F.col("_x")).alias("_sx"),
            dsum(F.col("_y")).alias("_sy"),
            dsum(F.col("_x") * F.col("_x")).alias("_sxx"),
            dsum(F.col("_y") * F.col("_y")).alias("_syy"),
            dsum(F.col("_x") * F.col("_y")).alias("_sxy"),
        )
    )
    g = (
        g.withColumn("_num", F.expr("_n * _sxy - _sx * _sy"))
        .withColumn("_dx", F.expr("_n * _sxx - _sx * _sx"))
        .withColumn("_dy", F.expr("_n * _syy - _sy * _sy"))
    )
    g = _with_exact_isqrt(g, "_dx", "_rx")
    g = _with_exact_isqrt(g, "_dy", "_ry")
    return g.select(
        *keys,
        "lag",
        F.col("_n").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(CASE WHEN _dx > 0 AND _dy > 0 THEN "
            "sign(_num) * least(CAST(1000000 AS DECIMAL(38,0)), "
            "(abs(_num) * 1000000) div (_rx * _ry)) END AS BIGINT)"
        ).alias("r_ppm"),
    )


def kruskal_wallis(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal–Wallis H (rank one-way ANOVA) per key: do k sample
    groups share a location — the k-group generalization of
    ``mann_whitney_u``, on the same DOUBLED tie-averaged ranks
    (``dr = 2·rank + ties − 1``, integral under ties).

    With doubled rank sums ``R2_g = Σ_g dr`` (so ``12·R_g² = 3·R2_g²``):

        ``H = Σ_g 3·R2_g²/(n_g·N·(N+1)) − 3·(N+1)``

    reported in exact milli as a SUM OF PER-GROUP FLOORS (the
    ``chi_square_cells`` convention — each term one decimal div,
    deterministic in any engine; the total undershoots true H by
    < #groups/1000). The tie-correction divisor is reported separately
    as ``tie_ppm = (N³−N − Σ(t³−t))·10⁶ div (N³−N)`` (corrected
    H = h_milli/tie_ppm·10³ downstream — kept apart so both factors
    stay integral). Per-key N below ~10⁹ keeps R2² inside decimal(38).

    Plan — GRAIN RANK ATTACH (round 14; de-serialized round 9): ``dr``
    depends only on (key, value), and :func:`_attach_doubled_rank`'s
    RANGE-framed window sums compute it exactly on the finer
    (key, value, sample-group) grain — every (v, g) row of a tie run
    gets the identical ``dr`` and the tie-run total ``n_v``, so the
    distinct-value grain, its persist, and the grain-sized rank
    JOIN-BACK of round 9 all disappear (guide §2.4). The tie mass
    rides the same rows integrally: Σ_v (n_v³ − n_v) =
    Σ_{(v,g)} n_gv·(n_v² − 1) because Σ_g n_gv = n_v. The per-key N
    and tie mass then attach to the ≤ keys×groups group table with one
    tiny window instead of a second grain aggregate + broadcast join.
    Parallelism scales with the grain, not the key count.
    Output: ``(keys…, n, n_groups, h_milli, tie_ppm)``.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys, F.col(value_col).alias("_v"), F.col(group_col).alias("_g")
    )
    grain_g = base.groupBy(*keys, "_v", "_g").agg(
        F.count(F.lit(1)).cast("long").alias("_ngv")
    ).persist(StorageLevel.MEMORY_ONLY)  # consumers: min/max, buckets, window
    ranked = _attach_doubled_rank(
        grain_g, keys, "_v", "_ngv", "_dr", 1024, nv_col="_nv"
    )
    ngv_dec = F.col("_ngv").cast("decimal(38,0)")
    per_g = ranked.groupBy(*keys, "_g").agg(
        F.sum("_ngv").cast("long").alias("_ng"),
        F.sum(ngv_dec * F.col("_dr")).alias("_r2"),
        F.sum(
            ngv_dec * (F.col("_nv").cast("decimal(38,0)") * F.col("_nv") - 1)
        ).alias("_ttg"),
    )
    w_key = W.partitionBy(*keys)
    terms = (
        per_g.withColumn("_N", F.sum("_ng").over(w_key))
        .withColumn("_tt", F.sum("_ttg").over(w_key).cast("decimal(38,0)"))
        .select(
            *keys,
            "_ng",
            "_tt",
            F.expr(
                "CAST((3000 * _r2 * _r2) div "
                "(CAST(_ng AS DECIMAL(38,0)) * _N * (_N + 1)) AS DECIMAL(38,0))"
            ).alias("_t"),
        )
    )
    hk = terms.groupBy(*keys).agg(
        F.sum("_ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("_t").alias("_hs"),
        F.max("_tt").alias("_tt"),  # constant per key
    )
    out = hk.select(
        *keys,
        "n",
        "n_groups",
        F.expr("CAST(_hs - 3000 * (n + 1) AS BIGINT)").alias("h_milli"),
        F.expr(
            "CAST(CASE WHEN n > 1 THEN "
            "((CAST(n AS DECIMAL(38,0)) * n * n - n - _tt) * 1000000) div "
            "(CAST(n AS DECIMAL(38,0)) * n * n - n) END AS BIGINT)"
        ).alias("tie_ppm"),
    )
    return track_cached(out, grain_g)


def calibration_table(
    df: DataFrame,
    label: Column,
    score_ppm_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Reliability diagram + ECE terms for a probabilistic classifier:
    bucket predictions by confidence, compare mean predicted
    probability against the empirical positive rate per bucket — the
    calibration companion to ``roc_points`` (discrimination) and
    ``lift_table`` (targeting).

    ``score_ppm_col`` is the predicted probability ALREADY in integer
    ppm ∈ [0, 10⁶] (quantize upstream with the q112 half-up-floor
    convention — keeping the quantization out of this operator keeps
    every value here integral and engine-exact). Bucket =
    ``(score_ppm · B) div (10⁶ + 1)`` ∈ 0..B−1 (the +1 puts the
    right-closed top edge in the last bucket). Per bucket:

        ``conf_ppm = Σ score_ppm div n``      (mean predicted)
        ``acc_ppm  = n_pos·10⁶ div n``        (empirical rate)
        ``ece_term = n · |conf_ppm − acc_ppm|``

    ``Σ ece_term / (N·10⁶)`` is the expected calibration error — the
    weighted sum left unreduced so partial results stay mergeable.

    Plan: ONE map-side-combinable groupBy on the bucket id (≤ B groups)
    — no windows, no joins, nothing global. Output:
    ``(bucket, n, n_pos, conf_ppm, acc_ppm, ece_term)``.
    """
    B = int(n_buckets)
    base = df.filter(F.col(score_ppm_col).isNotNull()).select(
        F.expr(f"CAST(({score_ppm_col} * {B}) div 1000001 AS INT)").alias("bucket"),
        F.col(score_ppm_col).cast("long").alias("_s"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_y").cast("long").alias("n_pos"),
        F.sum(F.col("_s").cast("decimal(38,0)")).alias("_ss"),
    )
    return g.select(
        "bucket",
        "n",
        "n_pos",
        F.expr("CAST(_ss div n AS BIGINT)").alias("conf_ppm"),
        F.expr(
            "CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)"
        ).alias("acc_ppm"),
        F.expr(
            "CAST(n * abs(CAST(_ss div n AS BIGINT) - "
            "CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)) "
            "AS BIGINT)"
        ).alias("ece_term"),
    ).orderBy("bucket")


def brier_decomposition(
    df: DataFrame,
    label: Column,
    score_ppm_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Murphy decomposition of the Brier score — the THREE-way view of
    a probabilistic classifier (``calibration_table`` shows the curve;
    this splits the score): per confidence bucket k,

        ``rel_term = n_k · (conf_k − acc_k)²``   (reliability — penalty)
        ``res_term = n_k · (acc_k − base)²``     (resolution — reward)
        ``unc_ppm2 = base · (10⁶ − base)``       (uncertainty, per-N)

    with Brier·10¹² = Σrel/N − Σres/N + unc (up to the per-bucket floor
    quantization of conf/acc/base — each term is one floor division of
    integral sums, the chi_square_cells convention, so every value is
    ENGINE-EXACT; no float subtraction anywhere).

    Same bucket map as ``calibration_table``:
    ``bucket = (score_ppm·B) div (10⁶+1)``; ``score_ppm_col`` is the
    prediction already quantized to integer ppm ∈ [0, 10⁶]. Plan: one
    partial-aggregated groupBy over the buckets plus a 1-row global
    (base rate) broadcast — no windows, nothing data-sized after the
    map side. Output: ``(bucket, n, n_pos, conf_ppm, acc_ppm,
    rel_term, res_term, unc_ppm2)`` ordered by bucket.
    """
    B = int(n_buckets)
    base = df.filter(F.col(score_ppm_col).isNotNull()).select(
        F.expr(f"CAST(({score_ppm_col} * {B}) div 1000001 AS INT)").alias("bucket"),
        F.col(score_ppm_col).cast("long").alias("_s"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_y").cast("long").alias("n_pos"),
        F.sum(F.col("_s").cast("decimal(38,0)")).alias("_ss"),
    )
    tot = g.agg(
        F.sum("n").cast("decimal(38,0)").alias("_N"),
        F.sum("n_pos").cast("decimal(38,0)").alias("_NP"),
    ).select(F.expr("CAST((_NP * 1000000) div _N AS BIGINT)").alias("_base"))
    out = g.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n",
        "n_pos",
        F.expr("CAST(_ss div n AS BIGINT)").alias("conf_ppm"),
        F.expr(
            "CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)"
        ).alias("acc_ppm"),
        F.col("_base").alias("base_ppm"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return out.select(
        "bucket",
        "n",
        "n_pos",
        "conf_ppm",
        "acc_ppm",
        (d("n") * (d("conf_ppm") - d("acc_ppm")) * (d("conf_ppm") - d("acc_ppm")))
        .cast("decimal(38,0)")
        .alias("rel_term"),
        (d("n") * (d("acc_ppm") - d("base_ppm")) * (d("acc_ppm") - d("base_ppm")))
        .cast("decimal(38,0)")
        .alias("res_term"),
        F.expr(
            "CAST(base_ppm * (1000000 - base_ppm) AS BIGINT)"
        ).alias("unc_ppm2"),
    ).orderBy("bucket")


def bh_select(
    df: DataFrame,
    p_ppm_col: str,
    alpha_num: int = 5,
    alpha_den: int = 100,
    ppm_buckets: int = 1024,
) -> DataFrame:
    """Benjamini–Hochberg FDR selection: given per-row p-values (integer
    ppm ∈ [0, 10⁶]), reject the ``k*`` smallest where ``k* = max{k :
    p_(k) ≤ (k/m)·α}`` — the multiple-testing gate behind any
    "which of these 10⁶ segments/features moved significantly" sweep.
    All-integer test: ``p_(k)·m·alpha_den ≤ k·10⁶·alpha_num`` in
    decimal(38,0).

    Scale design: the global ascending p-rank is NEVER a single sort —
    ranks come from the ppm-bucket two-level pattern (``quantile_map``):
    ``p div step`` lands each row in one of ≤ ``ppm_buckets`` buckets
    BY CONSTRUCTION (the domain is [0, 10⁶]); bucket counts give
    broadcast offsets via a window over the tiny bucket table; ranking
    is per-bucket. The BH cutoff is tie-safe: the rejected set
    ``{p ≤ p_(k*)}`` is invariant to how equal p's order, so internal
    tie-breaks never show in the output.

    Plan: one bucket-keyed shuffle, a ≤ ``ppm_buckets``-row offset
    window, a 1-row (k*, threshold) aggregate broadcast back, map-side
    flagging. Output: ALL input rows + ``(bh_rejected boolean,
    threshold_ppm)`` (threshold NULL and all-false when nothing
    passes). Rows with a NULL p-value are excluded from the rank/m
    computation (they are not tests) but kept in the output with
    ``bh_rejected = false``.
    """
    step = 1_000_000 // int(ppm_buckets) + 1
    base = df.filter(F.col(p_ppm_col).isNotNull())
    b = base.withColumn("_pb", F.expr(f"CAST({p_ppm_col} div {step} AS INT)"))
    per_b = b.groupBy("_pb").agg(F.count(F.lit(1)).cast("long").alias("_bn"))
    wb = W.orderBy(F.col("_pb").asc()).rowsBetween(W.unboundedPreceding, -1)
    offs = per_b.withColumn(
        "_off", F.coalesce(F.sum("_bn").over(wb), F.lit(0)).cast("long")
    ).withColumn("_m", F.sum("_bn").over(W.partitionBy()).cast("long"))
    win = W.partitionBy("_pb").orderBy(F.col(p_ppm_col).asc())
    ranked = (
        b.join(F.broadcast(offs.select("_pb", "_off", "_m")), "_pb")
        .withColumn("_rk", (F.col("_off") + F.row_number().over(win)).cast("long"))
    )
    sat = ranked.filter(
        F.expr(
            f"CAST({p_ppm_col} AS DECIMAL(38,0)) * _m * {int(alpha_den)} "
            f"<= CAST(_rk AS DECIMAL(38,0)) * 1000000 * {int(alpha_num)}"
        )
    )
    cut = sat.agg(
        F.max(
            F.struct(
                F.col("_rk").alias("rk"), F.col(p_ppm_col).cast("long").alias("p")
            )
        ).alias("_c")
    ).select(F.col("_c.p").alias("_thr"))
    return (
        df.crossJoin(F.broadcast(cut))
        .withColumn(
            "bh_rejected",
            F.coalesce(F.col(p_ppm_col) <= F.col("_thr"), F.lit(False)),
        )
        .withColumnRenamed("_thr", "threshold_ppm")
    )


def info_gain(
    df: DataFrame,
    feature_col: str,
    label_col: str,
) -> DataFrame:
    """Information gain of a categorical feature about a categorical
    label — ``IG = H(label) − Σ_x (n_x/N)·H(label | x)`` — the
    feature-selection / leakage-screening companion to
    ``chi_square_cells`` (association strength in entropy units).

    Integral discipline (the ``token_entropy`` convention):
    ``H = ln n − (Σ c·ln c)/n`` with every ``c·ln c`` floored half-up
    into INTEGER micro-nats and integer-summed (associative →
    partition-independent), each ``/n`` one integer div, and the
    (n_x/N) weight applied as ``(n_x·h_x) div N`` — one more floor.
    ``ig_unat = h_label_unat − Σ term_unat`` (sum the output column and
    subtract; both reported so the decomposition is auditable). The
    ``ln`` ulp caveat of q112 applies.

    Plan: one (feature, label) groupBy (map-side combinable), two tiny
    re-aggregations of it, one broadcast of the 1-row label entropy.
    Output: ``(value, n, h_cond_unat, term_unat, h_label_unat)`` — one
    row per feature value.
    """
    cells = df.groupBy(
        F.col(feature_col).alias("value"), F.col(label_col).alias("_y")
    ).agg(F.count(F.lit(1)).cast("long").alias("_c"))
    clnc = F.floor(
        F.col("_c").cast("double") * F.log(F.col("_c").cast("double")) * 1e6 + 0.5
    ).cast("long")
    per_x = cells.withColumn("_u", clnc).groupBy("value").agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum("_u").cast("long").alias("_s"),
    )
    per_x = per_x.withColumn(
        "h_cond_unat",
        (
            F.floor(F.log(F.col("n").cast("double")) * 1e6 + 0.5).cast("long")
            - F.expr("_s div n")
        ).cast("long"),
    )
    lab = cells.groupBy("_y").agg(F.sum("_c").cast("long").alias("_cy"))
    hl = lab.agg(
        F.sum("_cy").cast("long").alias("_N"),
        F.sum(
            F.floor(
                F.col("_cy").cast("double") * F.log(F.col("_cy").cast("double")) * 1e6
                + 0.5
            ).cast("long")
        ).alias("_sl"),
    ).select(
        "_N",
        (
            F.floor(F.log(F.col("_N").cast("double")) * 1e6 + 0.5).cast("long")
            - F.expr("_sl div _N")
        ).alias("h_label_unat"),
    )
    return (
        per_x.crossJoin(F.broadcast(hl))
        .select(
            "value",
            "n",
            "h_cond_unat",
            F.expr(
                "CAST(sign(h_cond_unat) * ((CAST(n AS DECIMAL(38,0)) * "
                "abs(h_cond_unat)) div _N) AS BIGINT)"
            ).alias("term_unat"),
            "h_label_unat",
        )
        .orderBy("value")
    )


def kaplan_meier(
    df: DataFrame,
    keys: list[str],
    duration_col: str,
    event_col: Column,
) -> DataFrame:
    """Kaplan–Meier survival curve per key: at each distinct duration
    with at least one EVENT (``event_col`` true; false = censored),
    the at-risk count, event count, and the running log-survival

        ``ln S(t) = Σ_{t' ≤ t} ln(1 − d_{t'}/n_{t'})``

    — the churn/failure/time-to-conversion primitive. Carried in
    INTEGER micro-nats (each factor's ``ln((n−d)/n)`` floored half-up,
    integer-summed — the q112 convention, associative and
    partition-independent; survival itself is ``exp(ln_s/1e6)``
    downstream). Factors with ``d = n`` (everyone fails) emit NULL
    ln_s from that time on (S hits exactly 0 — −∞ log).

    Plan: one (key, duration) groupBy; the at-risk count is a reverse
    running sum over the per-key DISTINCT-DURATION grain (a keyed
    window — bounded by duration cardinality per key; quantize very
    continuous durations first, the documented ``lift_table``-class
    contract), then the cumulative log sum rides the same sort.
    Output: ``(keys…, t, n_risk, d, ln_s_unat)`` — event times only.
    """
    base = df.filter(F.col(duration_col).isNotNull()).select(
        *keys,
        F.col(duration_col).alias("t"),
        F.when(event_col, F.lit(1)).otherwise(F.lit(0)).alias("_e"),
    )
    g = base.groupBy(*keys, "t").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_e").cast("long").alias("d"),
    )
    wrev = (
        W.partitionBy(*keys)
        .orderBy(F.col("t").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    at_risk = g.withColumn("n_risk", F.sum("_n").over(wrev).cast("long"))
    lnf = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1e6
            + 0.5
        ).cast("long"),
    ).when(F.col("d") >= F.col("n_risk"), F.lit(None).cast("long")).otherwise(
        F.lit(0)
    )
    wfwd = (
        W.partitionBy(*keys)
        .orderBy(F.col("t").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    scored = at_risk.withColumn("_lnf", lnf).withColumn(
        # a NULL factor (S = 0) must poison every LATER time too: count
        # nulls so far — any null upstream -> NULL cumulative
        "_nulls", F.sum(F.when(F.col("_lnf").isNull(), 1).otherwise(0)).over(wfwd)
    ).withColumn(
        "ln_s_unat",
        F.when(F.col("_nulls") == 0, F.sum("_lnf").over(wfwd).cast("long")),
    )
    return scored.filter(F.col("d") > 0).select(
        *keys, "t", "n_risk", "d", "ln_s_unat"
    )


def cohort_retention_table(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    granularity: str = "month",
) -> DataFrame:
    """Cohort retention matrix: users grouped by the period of their
    FIRST event; for each (cohort, age-in-periods) the distinct users
    still active and the retention rate vs the cohort's size — the
    standard product-analytics triangle, at month, week, or day grain.
    (The q70 ``cohort_retention`` is the raw count matrix; this TABLE
    variant adds cohort sizes and exact-ppm rates, and derives the
    cohort via a groupBy MIN instead of a per-user window — the
    map-side-combinable form.)

    Exactness: periods via ``date_trunc`` (calendar function, identical
    across engines on identical timestamps); age is pure integer
    date-part arithmetic — ``12·Δyear + Δmonth`` for months,
    ``datediff [div 7]`` for days/weeks — never a months_between
    float; retention in exact ppm.

    Plan: the first-event period is a per-user groupBy MIN (map-side
    combinable — not a window, so the user grain never single-sorts);
    one broadcast-eligible join of per-user cohorts back onto events
    keyed by user; one (cohort, age) distinct-count aggregate; cohort
    sizes re-aggregated from the cohort table and broadcast back.
    Output: ``(cohort_period, age_periods, n_active, n_cohort,
    retention_ppm)``.
    """
    if granularity not in ("month", "week", "day"):
        raise ValueError("granularity must be month, week, or day")
    ev = df.select(
        F.col(user_col).alias("_u"),
        F.date_trunc(granularity, F.col(ts_col)).alias("_m"),
    )
    cohorts = ev.groupBy("_u").agg(F.min("_m").alias("_c"))
    sizes = cohorts.groupBy("_c").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    if granularity == "month":
        age = (F.year("_m") - F.year("_c")) * 12 + (F.month("_m") - F.month("_c"))
    elif granularity == "week":
        age = F.expr("datediff(_m, _c) div 7")
    else:
        age = F.datediff(F.col("_m"), F.col("_c"))
    active = (
        ev.join(cohorts, "_u")
        .select("_c", age.cast("int").alias("age_periods"), "_u")
        .distinct()
        .groupBy("_c", "age_periods")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return (
        active.join(F.broadcast(sizes), "_c")
        .select(
            F.col("_c").alias("cohort_period"),
            "age_periods",
            "n_active",
            "n_cohort",
            F.expr(
                "CAST((CAST(n_active AS DECIMAL(38,0)) * 1000000) div n_cohort "
                "AS BIGINT)"
            ).alias("retention_ppm"),
        )
    )


def odds_ratio_by_group(
    df: DataFrame,
    keys: list[str],
    exposure: Column,
    outcome: Column,
) -> DataFrame:
    """Per-key 2×2 odds ratio with Haldane–Anscombe ½-correction — the
    A/B-test / epidemiology effect-size next to ``chi_square_cells``
    (association) and ``wilson_lower_bound`` (single-rate CI).

    With cell counts a (exposed+outcome), b (exposed−), c (unexposed+),
    d (unexposed−), the ½-smoothing doubles out to integers:

        ``or_ppm = ((2a+1)·(2d+1)·10⁶) div ((2b+1)·(2c+1))``

    — exact rational, never 0/0. ``ln_or_unat`` is the micro-nat log of
    the same exact rational (float ln of a correctly-rounded double
    quotient — the q112 convention; ±1-µnat oracle drift = libm ulp).

    Plan: one conditional-count groupBy per key (map-side combinable),
    fixed expression tree. Output: ``(keys…, a, b, c, d, or_ppm,
    ln_or_unat)``.
    """
    base = df.select(
        *keys,
        F.when(exposure, F.lit(1)).otherwise(F.lit(0)).alias("_e"),
        F.when(outcome, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = base.groupBy(*keys).agg(
        F.sum(F.expr("_e * _y")).cast("long").alias("a"),
        F.sum(F.expr("_e * (1 - _y)")).cast("long").alias("b"),
        F.sum(F.expr("(1 - _e) * _y")).cast("long").alias("c"),
        F.sum(F.expr("(1 - _e) * (1 - _y)")).cast("long").alias("d"),
    )
    num = "(2 * CAST(a AS DECIMAL(38,0)) + 1) * (2 * d + 1)"
    den = "(2 * CAST(b AS DECIMAL(38,0)) + 1) * (2 * c + 1)"
    return g.select(
        *keys,
        "a",
        "b",
        "c",
        "d",
        F.expr(f"CAST(({num} * 1000000) div ({den}) AS BIGINT)").alias("or_ppm"),
        F.expr(
            f"CAST(floor(ln(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)) "
            f"* 1000000.0 + 0.5) AS BIGINT)"
        ).alias("ln_or_unat"),
    )


def g_test_cells(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """G-test (log-likelihood ratio) per contingency cell — the
    entropy-side sibling of ``chi_square_cells``: ``G = 2·Σ O·ln(O·N /
    (R·C))`` over OBSERVED cells (empty cells contribute 0 by the
    0·ln 0 convention, so no grid completion is needed).

    Per cell the log ratio is the micro-nat of an exact rational
    (``O·N`` and ``R·C`` are exact integers; their double quotient is
    correctly rounded — the q112 convention) and the weight ``2·O`` is
    integral, so ``g_term_unat = 2·O·unat`` is an exact integer;
    ``Σ g_term_unat / 10⁶`` is the G statistic in nats.

    Plan: ONE shuffle builds the (a, b) cell table; row/column/N totals
    are tiny re-aggregations broadcast back. Output: ``(a, b, observed,
    row_total, col_total, g_term_unat)``.
    """
    counts = df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    rows_t = counts.groupBy("a").agg(F.sum("observed").cast("long").alias("row_total"))
    cols_t = counts.groupBy("b").agg(F.sum("observed").cast("long").alias("col_total"))
    n_t = counts.agg(F.sum("observed").cast("long").alias("_N"))
    full = (
        counts.join(F.broadcast(rows_t), "a")
        .join(F.broadcast(cols_t), "b")
        .crossJoin(F.broadcast(n_t))
    )
    return full.select(
        "a",
        "b",
        "observed",
        "row_total",
        "col_total",
        F.expr(
            "CAST(2 * observed * floor(ln((CAST(observed AS DOUBLE) * _N) / "
            "(CAST(row_total AS DOUBLE) * col_total)) * 1000000.0 + 0.5) "
            "AS BIGINT)"
        ).alias("g_term_unat"),
    )


def theil_index(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Theil T inequality index per key — the entropy-based
    concentration measure that DECOMPOSES additively across subgroups
    (unlike ``gini_by_group``): ``T = Σ (x/S)·ln(x·n/S)`` with
    ``S = Σx``, 0 for perfect equality, ``ln n`` for total
    concentration.

    ``value_col`` must be INTEGER-VALUED and positive (pre-scale to
    cents; zero/negative rows are excluded — their Theil term is 0 by
    the 0·ln 0 convention). Per row the log is the micro-nat of an
    exact rational ``x·n/S`` (q112 convention); the weight is applied
    as ONE decimal div at the end: ``theil_unat = sign·(abs(Σ x·l_x)
    div S)`` — no per-row division, no floor accumulation.

    Plan: one per-key totals aggregate broadcast back onto the rows
    (map-side term computation), one final per-key sum. The fact table
    never reshuffles twice. Output: ``(keys…, n, sum_value,
    theil_unat)``.
    """
    base = df.filter(F.col(value_col).isNotNull() & (F.col(value_col) > 0)).select(
        *keys, F.col(value_col).cast("long").alias("_x")
    )
    tot = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col("_x").cast("decimal(38,0)")).alias("_S"),
    )
    scored = base.join(F.broadcast(tot), keys).withColumn(
        "_l",
        F.expr(
            "CAST(floor(ln((CAST(_x AS DOUBLE) * _n) / CAST(_S AS DOUBLE)) "
            "* 1000000.0 + 0.5) AS BIGINT)"
        ),
    )
    g = scored.groupBy(*keys).agg(
        F.max("_n").alias("n"),
        F.max("_S").alias("_S2"),
        F.sum(F.expr("CAST(_x AS DECIMAL(38,0)) * _l")).alias("_wl"),
    )
    return g.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.col("_S2").cast("long").alias("sum_value"),
        F.expr(
            "CAST(sign(_wl) * (abs(_wl) div _S2) AS BIGINT)"
        ).alias("theil_unat"),
    )


def burstiness_by_group(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Inter-event burstiness per key: the Fano factor (variance/mean)
    of inter-arrival gaps in MICROSECONDS — 1 for a Poisson process,
    ≫1 for bursty traffic, <1 for pacing; the point-process health
    diagnostic next to ``timestamp_stats`` (rate) and ``cusum`` (level
    shifts).

    Gaps are exact integer µs (``unix_micros`` differences), so the
    moments are exact decimals and the Fano factor cross-multiplies to
    ONE floor div:

        ``fano_ppm = ((m·Σg² − (Σg)²) · 10⁶) div ((m−1) · Σg)``

    (sample variance over mean, m = gap count). Keys with < 2 gaps or
    zero total gap report NULL. Σg ≤ 10¹⁵ µs (≈ 30 years) keeps the
    numerator inside decimal(38).

    Plan: one per-key lag window (one sort), one groupBy — the
    ``lag_delta`` shape with exact-moment aggregation on top.
    Output: ``(keys…, n_gaps, mean_gap_us, fano_ppm)``.
    """
    order_cols = order_cols or [ts_col]
    w = W.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_cols])
    gaps = (
        df.select(*keys, *order_cols, F.unix_micros(F.col(ts_col)).alias("_us"))
        .withColumn("_g", F.col("_us") - F.lag("_us").over(w))
        .filter(F.col("_g").isNotNull())
    )
    g = gaps.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.col("_g").cast("decimal(38,0)")).alias("_S"),
        F.sum(F.expr("CAST(_g AS DECIMAL(38,0)) * _g")).alias("_SS"),
    )
    return g.select(
        *keys,
        "n_gaps",
        F.expr("CAST(_S div n_gaps AS BIGINT)").alias("mean_gap_us"),
        F.expr(
            "CAST(CASE WHEN n_gaps > 1 AND _S > 0 THEN "
            "((n_gaps * _SS - _S * _S) * 1000000) div ((n_gaps - 1) * _S) "
            "END AS BIGINT)"
        ).alias("fano_ppm"),
    )


def rbo_weights_micro(k: int, p: float = 0.9) -> list[int]:
    """Literal RBO tail-weight table: ``W[m] = Σ_{d=m..k} (1−p)·p^{d−1}/d``
    floored to integer micro-units, for m = 1..k. Computed ONCE in
    Python and embedded in both the Spark plan and the SQL oracle (the
    NDCG-discount pattern, §6 of EXACTNESS.md) so no runtime pow/log."""
    if not 0 < p < 1:
        raise ValueError("p must be in (0, 1)")
    per_d = [(1 - p) * p ** (d - 1) / d for d in range(1, k + 1)]
    out = []
    for m in range(1, k + 1):
        out.append(int(math.floor(sum(per_d[m - 1 :]) * 1_000_000 + 0.5)))
    return out


def rbo_by_group(
    ranks_a: DataFrame,
    ranks_b: DataFrame,
    keys: list[str],
    item_col: str,
    rank_col: str,
    k: int = 50,
    p: float = 0.9,
) -> DataFrame:
    """Rank-Biased Overlap (truncated at depth ``k``) between two
    rankings per key — the top-weighted ranking-agreement metric beside
    ``ndcg_at_k`` (graded relevance) and ``rrf_fuse`` (fusion): how
    similar are two retrieval/ranker outputs, weighting the head.

    Identity used: RBO@k = Σ_{d≤k} w_d·|A_d ∩ B_d|/d with
    ``w_d = (1−p)p^{d−1}`` equals a PER-ITEM sum — an item at ranks
    (ra, rb) joins every prefix-overlap from depth ``m = max(ra, rb)``
    on, contributing exactly ``W[m] = Σ_{d=m..k} w_d/d``. ``W`` is a
    ≤k-entry literal micro-unit table (:func:`rbo_weights_micro`), so
    the metric is an integer sum of literals — engine-exact, no runtime
    transcendentals (§6). Truncated form: no residual extrapolation;
    RBO@k of identical rankings = Σ_{d≤k} w_d < 1.

    Plan: one inner equi-join on (keys, item) of two rank tables
    (pre-cut to rank ≤ k — map-side filters), a literal
    ``element_at`` lookup, one groupBy sum. Output: ``(keys…,
    n_common, rbo_micro)``.
    """
    w = rbo_weights_micro(k, p)
    wlit = F.array(*[F.lit(int(x)) for x in w])
    a = ranks_a.filter(F.col(rank_col) <= k).select(
        *keys, F.col(item_col).alias("_it"), F.col(rank_col).alias("_ra")
    )
    b = ranks_b.filter(F.col(rank_col) <= k).select(
        *keys, F.col(item_col).alias("_it"), F.col(rank_col).alias("_rb")
    )
    j = a.join(b, [*keys, "_it"]).withColumn(
        "_w",
        F.element_at(wlit, F.greatest("_ra", "_rb").cast("int")),
    )
    return j.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("_w").cast("long").alias("rbo_micro"),
    )


def ols2_by_group(
    df: DataFrame,
    keys: list[str],
    x1_col: str,
    x2_col: str,
    y_col: str,
) -> DataFrame:
    """Two-regressor OLS per key — ``y = b0 + b1·x1 + b2·x2`` solved
    EXACTLY by Cramer's rule on the normal equations, the multivariate
    extension of the closed-form single-x regression (S5/q22): all nine
    moments accumulate in decimal(38,0), the four 3×3 determinants are
    fixed integer expression trees, and each coefficient is ONE
    sign-safe milli div ``b_i = sign·(|det_i|·1000 div |det|)·sign(det)``
    — no matrix library, no float solver, identical in any engine.

    INTEGER-VALUED inputs (pre-scale to cents etc.); magnitude
    contract: |x|, |y| ≲ 10⁴ and per-key n ≲ 10⁶ keep the determinant
    terms (~n·Sxx·Syy) inside decimal(38). Collinear keys (det = 0)
    report NULL coefficients.

    Plan: ONE map-side-combinable aggregate per key, then a per-row
    expression tree. Output: ``(keys…, n, b0_milli, b1_milli,
    b2_milli)``.
    """
    dsum = lambda e: F.sum(e.cast("decimal(38,0)")).cast("decimal(38,0)")  # noqa: E731
    base = df.filter(
        F.col(x1_col).isNotNull() & F.col(x2_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        *keys,
        F.col(x1_col).cast("long").alias("_x1"),
        F.col(x2_col).cast("long").alias("_x2"),
        F.col(y_col).cast("long").alias("_y"),
    )
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        dsum(F.col("_x1")).alias("_s1"),
        dsum(F.col("_x2")).alias("_s2"),
        dsum(F.col("_x1") * F.col("_x1")).alias("_s11"),
        dsum(F.col("_x1") * F.col("_x2")).alias("_s12"),
        dsum(F.col("_x2") * F.col("_x2")).alias("_s22"),
        dsum(F.col("_y")).alias("_sy"),
        dsum(F.col("_x1") * F.col("_y")).alias("_s1y"),
        dsum(F.col("_x2") * F.col("_y")).alias("_s2y"),
    )
    # M = [[n, s1, s2], [s1, s11, s12], [s2, s12, s22]]; rhs = [sy, s1y, s2y]
    det = (
        "(_n * (_s11 * _s22 - _s12 * _s12) "
        "- _s1 * (_s1 * _s22 - _s12 * _s2) "
        "+ _s2 * (_s1 * _s12 - _s11 * _s2))"
    )
    det0 = (
        "(_sy * (_s11 * _s22 - _s12 * _s12) "
        "- _s1 * (_s1y * _s22 - _s12 * _s2y) "
        "+ _s2 * (_s1y * _s12 - _s11 * _s2y))"
    )
    det1 = (
        "(_n * (_s1y * _s22 - _s12 * _s2y) "
        "- _sy * (_s1 * _s22 - _s12 * _s2) "
        "+ _s2 * (_s1 * _s2y - _s1y * _s2))"
    )
    det2 = (
        "(_n * (_s11 * _s2y - _s1y * _s12) "
        "- _s1 * (_s1 * _s2y - _s1y * _s2) "
        "+ _sy * (_s1 * _s12 - _s11 * _s2))"
    )

    def beta(d_i: str, name: str):
        return F.expr(
            f"CAST(CASE WHEN {det} <> 0 THEN "
            f"sign({d_i}) * sign({det}) * ((abs({d_i}) * 1000) div abs({det})) "
            f"END AS BIGINT)"
        ).alias(name)

    return g.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        beta(det0, "b0_milli"),
        beta(det1, "b1_milli"),
        beta(det2, "b2_milli"),
    )


def mase_by_group(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Mean Absolute Scaled Error of the NAIVE one-step forecast per
    key, scaled by the seasonal-naive baseline — the scale-free
    forecastability diagnostic (MASE < 10⁶ ppm: the series is easier
    than its seasonal repeat; ≫ 10⁶: noisier than seasonality):

        ``mase_ppm = (Σ|x_t − x_{t−1}| · m_s · 10⁶)
                      div (n_1 · Σ|x_t − x_{t−s}|)``

    — the two MAEs cross-multiplied into ONE floor div (§4).
    ``value_col`` must be INTEGER-VALUED (pre-scale); keys with no
    seasonal pairs or a zero seasonal MAE report NULL.

    Plan: one per-key window pass (both lags share the sort), one
    groupBy. Output: ``(keys…, n_naive, n_seasonal, mase_ppm)``.
    """
    if season < 2:
        raise ValueError("season must be >= 2 (1 would equal the naive MAE)")
    w = W.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_cols])
    lagged = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col).cast("long").alias("_x"),
        *[F.col(c) for c in order_cols],
    ).select(
        *keys,
        "_x",
        (F.col("_x") - F.lag("_x", 1).over(w)).alias("_e1"),
        (F.col("_x") - F.lag("_x", int(season)).over(w)).alias("_es"),
    )
    g = lagged.groupBy(*keys).agg(
        F.count(F.col("_e1")).cast("long").alias("n_naive"),
        F.count(F.col("_es")).cast("long").alias("n_seasonal"),
        F.sum(F.abs(F.col("_e1")).cast("decimal(38,0)")).alias("_a1"),
        F.sum(F.abs(F.col("_es")).cast("decimal(38,0)")).alias("_as"),
    )
    return g.select(
        *keys,
        "n_naive",
        "n_seasonal",
        F.expr(
            "CAST(CASE WHEN n_seasonal > 0 AND _as > 0 THEN "
            "(_a1 * n_seasonal * 1000000) div "
            "(CAST(n_naive AS DECIMAL(38,0)) * _as) END AS BIGINT)"
        ).alias("mase_ppm"),
    )


def diff_in_diff(
    df: DataFrame,
    keys: list[str],
    treated: Column,
    post: Column,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences point estimate per key on INTEGER
    values (pre-scale to cents): the 2×2 (treated × post) cell means,
    each floored ONCE to micro-units (the chi-square floor-sum
    convention — 4 floors total, ≤ 4 micro absolute error,
    deterministic), combined as

        ``did = (mean_t1 − mean_t0) − (mean_c1 − mean_c0)``

    — the workhorse quasi-experimental effect estimate beside
    ``odds_ratio_by_group`` (binary outcomes). Keys missing any of the
    four cells report NULL.

    Plan: one conditional-aggregate groupBy (map-side), fixed
    expression tree. Output: ``(keys…, n_t0, n_t1, n_c0, n_c1,
    did_micro)``.
    """
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.when(treated, F.lit(1)).otherwise(F.lit(0)).alias("_t"),
        F.when(post, F.lit(1)).otherwise(F.lit(0)).alias("_p"),
        F.col(value_col).cast("long").alias("_v"),
    )

    def cell(t: int, pp: int, what: str):
        cond = (F.col("_t") == t) & (F.col("_p") == pp)
        if what == "n":
            return F.sum(cond.cast("long")).cast("long")
        return F.sum(F.when(cond, F.col("_v")).otherwise(F.lit(0)).cast("decimal(38,0)"))

    g = base.groupBy(*keys).agg(
        cell(1, 0, "n").alias("n_t0"),
        cell(1, 1, "n").alias("n_t1"),
        cell(0, 0, "n").alias("n_c0"),
        cell(0, 1, "n").alias("n_c1"),
        cell(1, 0, "s").alias("_st0"),
        cell(1, 1, "s").alias("_st1"),
        cell(0, 0, "s").alias("_sc0"),
        cell(0, 1, "s").alias("_sc1"),
    )
    mean = (
        lambda s, n: f"(sign({s}) * ((abs({s}) * 1000000) div {n}))"
    )  # noqa: E731
    return g.select(
        *keys,
        "n_t0",
        "n_t1",
        "n_c0",
        "n_c1",
        F.expr(
            f"CAST(CASE WHEN n_t0 > 0 AND n_t1 > 0 AND n_c0 > 0 AND n_c1 > 0 THEN "
            f"({mean('_st1', 'n_t1')} - {mean('_st0', 'n_t0')}) "
            f"- ({mean('_sc1', 'n_c1')} - {mean('_sc0', 'n_c0')}) "
            f"END AS BIGINT)"
        ).alias("did_micro"),
    )


def pr_points(
    df: DataFrame,
    label: Column,
    score_col: str,
    score_buckets: int = 1024,
) -> DataFrame:
    """Precision–recall curve at every distinct score threshold
    (predicted positive iff ``score ≥ threshold``) — the imbalanced-
    class companion to :func:`roc_points`, exact ppm:

        ``precision = cum_pos/cum_n``,  ``recall = cum_pos/P``

    Same shared :func:`_grain_prefix` two-level prefix sum as
    ``roc_points`` (§13), including its cardinality-adaptive fast path
    and non-numeric fallback. The distinct-score table is persisted
    (three readers) and rides on the result via ``track_cached``.

    Output: ``(score, n_ge, precision_ppm, recall_ppm)`` score-desc.

    NOTE: building this DataFrame is not always fully lazy — unless
    the scan is provably small (the r14 file-size bound, which decides
    from the driver's file listing alone), it runs one planning Spark
    action (``_grain_prefix``'s cardinality count on the persisted
    value grain, which sizes the adaptive fast path) before returning.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(score_col).isNotNull()).select(
        F.col(score_col).alias("_s"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("_y"),
    )
    g = base.groupBy("_s").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_p"),
    ).persist(StorageLevel.MEMORY_ONLY)
    cum = _grain_prefix(
        g, "_s", ["_n", "_p"], ascending=False, buckets=int(score_buckets)
    )
    out = cum.select(
        F.col("_s").alias("score"),
        F.col("_cum_n").alias("n_ge"),
        F.expr(
            "CAST((CAST(_cum_p AS DECIMAL(38,0)) * 1000000) div _cum_n AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CASE WHEN _tot_p > 0 THEN "
            "(CAST(_cum_p AS DECIMAL(38,0)) * 1000000) div _tot_p END AS BIGINT)"
        ).alias("recall_ppm"),
    ).orderBy(F.col("score").desc())
    return track_cached(out, g)


def lorenz_points(
    df: DataFrame,
    value_col: str,
    value_buckets: int = 1024,
) -> DataFrame:
    """Lorenz curve at every distinct value (ascending): cumulative
    population share vs cumulative value share in exact ppm — the curve
    whose area complement ``gini_by_group`` integrates; the standard
    inequality/concentration visual for income-like columns.

    Values must be non-negative integers (pre-scale to cents; negative
    rows rejected upstream make the curve meaningless). Shared
    :func:`_grain_prefix` two-level prefix sum (§13) — ascending this
    time, with the cardinality-adaptive fast path; the distinct-value
    table is persisted and rides on the result via ``track_cached``.

    Output: ``(value, n_le, cum_pop_ppm, cum_value_ppm)`` value-asc;
    perfect equality tracks the diagonal, concentration sags below.

    NOTE: building this DataFrame is not always fully lazy — unless
    the scan is provably small (the r14 file-size bound, which decides
    from the driver's file listing alone), it runs one planning Spark
    action (``_grain_prefix``'s cardinality count on the persisted
    value grain, which sizes the adaptive fast path) before returning.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(value_col).isNotNull() & (F.col(value_col) >= 0)).select(
        F.col(value_col).cast("long").alias("_v")
    )
    g = (
        base.groupBy("_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .withColumn("_s", F.expr("CAST(_v AS DECIMAL(38,0)) * _n"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    cum = _grain_prefix(
        g, "_v", ["_n", "_s"], ascending=True, buckets=int(value_buckets)
    )
    out = cum.select(
        F.col("_v").alias("value"),
        F.col("_cum_n").alias("n_le"),
        F.expr(
            "CAST((CAST(_cum_n AS DECIMAL(38,0)) * 1000000) div _tot_n AS BIGINT)"
        ).alias("cum_pop_ppm"),
        F.expr(
            "CAST(CASE WHEN _tot_s > 0 THEN (_cum_s * 1000000) div _tot_s "
            "ELSE 0 END AS BIGINT)"
        ).alias("cum_value_ppm"),
    ).orderBy("value")
    return track_cached(out, g)


def trimmed_mean(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    trim_ppm: int = 50_000,
    value_buckets: int = 1024,
) -> DataFrame:
    """Exact per-key trimmed mean of an integral measure: drop the
    lowest and highest ``k = (n·trim_ppm) div 10⁶`` observations per
    key and average the rest — the robust location estimate for
    metric pipelines where a winsorize (clip) would bias and a median
    throws away too much.

    Values must be integral (pre-scale to cents, the ``gini_by_group``
    convention) so the kept-mass sum stays exact. Tie handling is
    mass-exact: a distinct value with count ``n_v`` and inclusive
    cumulative count ``c_v`` keeps
    ``w_v = max(0, min(c_v, n−k) − max(c_v−n_v, k))`` observations —
    partial inclusion at the trim boundaries, Σw = n−2k always, no
    row-order dependence. Mean in exact milli via the sign·abs-div
    convention.

    Plan — boundary-bucket SELECTION (round 10; previously a grain-wide
    prefix sum): the kept mass is ``lowest(n−k) − lowest(k)`` where
    ``lowest(m)`` = the sum of the m smallest observations, and
    ``lowest(m)`` needs per-row cumulative counts only inside the ONE
    bucket that straddles rank m — every bucket fully below
    contributes its (bucket-level) sum wholesale. So: one grain
    groupBy, one per-(key, bucket) aggregate, a ≤ buckets-rows-per-key
    offset window, and a value-ordered window over ONLY the (≤ 2 per
    key) straddle buckets' grain rows — never a grain-wide window, no
    planning action, fully lazy. Tie handling stays mass-exact (the
    straddle row keeps a partial count), Σkept = n−2k always, no
    row-order dependence. The grain persists (MEMORY_ONLY — read by
    the bucket aggregate and the straddle probe) and rides on the
    result via ``track_cached``. Output: ``(keys…, n, n_kept,
    trimmed_mean_milli)``.
    """
    from aeon_mecha_spark.util import track_cached

    if not 0 <= int(trim_ppm) < 500_000:
        raise ValueError("trim_ppm must be in [0, 500000)")
    nb = int(value_buckets)
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys, F.col(value_col).cast("long").alias("_v")
    )
    g = (
        base.groupBy(*keys, "_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    if _grain_provably_small(g):
        # single-window fast path (r14, same file-size bound as
        # _grain_prefix): the kept mass is summed DIRECTLY from the
        # docstring's per-value identity w_v = max(0, min(c_v, n−k) −
        # max(c_v−n_v, k)) over one per-key window — so
        # Σ v·w_v = lowest(n−k) − lowest(k), the exact quantity the
        # bucket+straddle machinery assembles, with the identical
        # sign·abs-div milli convention. Integer arithmetic throughout
        # ⇒ same output, same hash, by construction.
        w_in = (
            W.partitionBy(*keys).orderBy(F.col("_v").asc())
            .rowsBetween(W.unboundedPreceding, 0)
        )
        w_tot = W.partitionBy(*keys)
        c = (
            g.withColumn("_cum", F.sum("_n").over(w_in).cast("long"))
            .withColumn("_tot_n", F.sum("_n").over(w_tot).cast("long"))
            .withColumn("_k", F.expr(f"(_tot_n * {int(trim_ppm)}) div 1000000"))
            .withColumn("_hi", F.expr("_tot_n - _k"))
            .withColumn(
                "_w",
                F.expr("greatest(0L, least(_cum, _hi) - greatest(_cum - _n, _k))"),
            )
        )
        agg = c.groupBy(*keys).agg(
            F.max("_tot_n").cast("long").alias("n"),
            F.max("_k").cast("long").alias("_kk"),
            F.sum(F.expr("CAST(_v AS DECIMAL(38,0)) * _w"))
            .cast("decimal(38,0)")
            .alias("_ks"),
        )
        out = agg.select(
            *keys,
            "n",
            F.expr("n - 2 * _kk").cast("long").alias("n_kept"),
            F.expr(
                "CAST(CASE WHEN n - 2 * _kk > 0 THEN "
                "sign(_ks) * ((abs(_ks) * 1000) div (n - 2 * _kk)) "
                "END AS BIGINT)"
            ).alias("trimmed_mean_milli"),
        )
        return track_cached(out, g)
    mm = g.groupBy(*keys).agg(
        F.min(F.col("_v").cast("double")).alias("_mn"),
        F.max(F.col("_v").cast("double")).alias("_mx"),
    )
    bucket_of = F.when(
        F.col("_mx") > F.col("_mn"),
        F.least(
            F.lit(nb - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("_v").cast("double") - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn"))
                    * nb
                ).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    if keys:
        b = g.join(mm, keys)  # AQE: keys-sized build side -> broadcast
    else:
        b = g.crossJoin(F.broadcast(mm))
    b = b.withColumn("_cb", bucket_of).drop("_mn", "_mx")
    pb = b.groupBy(*keys, "_cb").agg(
        F.sum("_n").cast("long").alias("_bn"),
        F.sum(F.expr("CAST(_v AS DECIMAL(38,0)) * _n")).alias("_bs"),
    )
    w_off = (
        W.partitionBy(*keys).orderBy(F.col("_cb").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_tot = W.partitionBy(*keys)
    zero_d = F.lit(0).cast("decimal(38,0)")
    offs = (
        pb.withColumn("_off_n", F.coalesce(F.sum("_bn").over(w_off), F.lit(0).cast("long")))
        .withColumn("_off_s", F.coalesce(F.sum("_bs").over(w_off), zero_d).cast("decimal(38,0)"))
        .withColumn("_tot_n", F.sum("_bn").over(w_tot))
        .withColumn("_tot_s", F.sum("_bs").over(w_tot).cast("decimal(38,0)"))
    )
    k = F.expr(f"(_tot_n * {int(trim_ppm)}) div 1000000")
    offs = offs.withColumn("_k", k).withColumn("_hi", F.expr("_tot_n - _k"))
    # the ≤ 2 straddle targets per key: lowest(k) (tag 0) and
    # lowest(n−k) (tag 1); m = 0 selects no bucket (lowest(0) = 0)
    tags = F.array(
        F.struct(F.lit(0).alias("_tag"), F.col("_k").alias("_m")),
        F.struct(F.lit(1).alias("_tag"), F.col("_hi").alias("_m")),
    )
    sel = (
        offs.select(*keys, "_cb", "_bn", "_off_n", "_off_s", F.explode(tags).alias("_t"))
        .select(*keys, "_cb", "_bn", "_off_n", "_off_s", "_t._tag", "_t._m")
        .filter(
            (F.col("_off_n") < F.col("_m"))
            & (F.col("_m") <= F.col("_off_n") + F.col("_bn"))
        )
        .drop("_bn")
    )
    # probe ONLY the straddle buckets' grain rows (≤ grain/buckets per
    # key per boundary); a bucket straddling BOTH boundaries yields two
    # tagged candidate sets
    if keys:
        cand = b.join(sel, [*keys, "_cb"])
    else:
        cand = b.join(F.broadcast(sel), "_cb")
    w_in = (
        W.partitionBy(*keys, "_tag").orderBy(F.col("_v").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cand = cand.withColumn("_cum", F.col("_off_n") + F.sum("_n").over(w_in))
    # within-bucket portion of lowest(m): the row's observations below
    # rank m beyond the full-bucket prefix — partial at the boundary
    part = cand.withColumn(
        "_w",
        F.expr("greatest(0L, least(_cum, _m) - greatest(_cum - _n, _off_n))"),
    ).groupBy(*keys, "_tag").agg(
        (F.max("_off_s") + F.sum(F.expr("CAST(_v AS DECIMAL(38,0)) * _w")))
        .cast("decimal(38,0)")
        .alias("_low"),
    )
    lows = part.groupBy(*keys).pivot("_tag", [0, 1]).agg(F.max("_low"))
    tot = offs.groupBy(*keys).agg(
        F.max("_tot_n").cast("long").alias("n"),
        F.max("_tot_s").alias("_tot_s"),
        F.max("_k").cast("long").alias("_kk"),
    )
    if keys:
        j = tot.join(lows, keys, "left")
    else:
        j = tot.crossJoin(F.broadcast(lows))
    # lowest(0) = 0 (no straddle bucket selected); lowest(n−k) with
    # k = 0 selects the last bucket, so `1` is only NULL on empty keys
    out = j.select(
        *keys,
        "n",
        F.expr("n - 2 * _kk").cast("long").alias("n_kept"),
        F.expr(
            "CAST(CASE WHEN n - 2 * _kk > 0 THEN "
            "sign(coalesce(`1`, _tot_s) - coalesce(`0`, CAST(0 AS DECIMAL(38,0)))) * "
            "((abs(coalesce(`1`, _tot_s) - coalesce(`0`, CAST(0 AS DECIMAL(38,0)))) * 1000) "
            "div (n - 2 * _kk)) END AS BIGINT)"
        ).alias("trimmed_mean_milli"),
    )
    return track_cached(out, g)


def nelson_aalen(
    df: DataFrame,
    keys: list[str],
    duration_col: str,
    event_col: Column,
) -> DataFrame:
    """Nelson–Aalen cumulative hazard per key: ``H(t) = Σ_{t'≤t}
    d_{t'}/n_{t'}`` — the additive twin of :func:`kaplan_meier`
    (useful when the hazard itself, not survival, is the estimand; no
    log, so no µnat machinery needed).

    Each factor is ONE ppm floor ``(d·10⁶) div n_risk`` (the
    chi-square floor-sum convention — the total undershoots by
    < #event-times/10⁶, deterministic), integer-cumulated along the
    same reverse-at-risk scaffolding as KM. Output rows only at event
    times. Output: ``(keys…, t, n_risk, d, cumhaz_ppm)``.
    """
    base = df.filter(F.col(duration_col).isNotNull()).select(
        *keys,
        F.col(duration_col).alias("t"),
        F.when(event_col, F.lit(1)).otherwise(F.lit(0)).alias("_e"),
    )
    g = base.groupBy(*keys, "t").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_e").cast("long").alias("d"),
    )
    wrev = (
        W.partitionBy(*keys)
        .orderBy(F.col("t").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    at_risk = g.withColumn("n_risk", F.sum("_n").over(wrev).cast("long"))
    term = F.expr(
        "CAST((CAST(d AS DECIMAL(38,0)) * 1000000) div n_risk AS BIGINT)"
    )
    wfwd = (
        W.partitionBy(*keys)
        .orderBy(F.col("t").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        at_risk.withColumn("_h", term)
        .withColumn("cumhaz_ppm", F.sum("_h").over(wfwd).cast("long"))
        .filter(F.col("d") > 0)
        .select(*keys, "t", "n_risk", "d", "cumhaz_ppm")
    )


def logrank_test(
    df: DataFrame,
    keys: list[str],
    duration_col: str,
    event_col: Column,
    group_a: Column,
) -> DataFrame:
    """Log-rank (Mantel–Cox) two-sample survival comparison per key:
    does population A (``group_a`` true) fail at a different rate than
    B — the hypothesis test on top of :func:`kaplan_meier`.

    Per event time: observed A-events ``d_a``, expected
    ``E = d·n_a/n``, variance ``V = d·(n_a/n)(1−n_a/n)(n−d)/(n−1)``;
    the statistic is ``(Σd_a − ΣE)²/ΣV`` downstream. ΣE and ΣV are
    reported as SUMS OF PER-TIME MICRO FLOORS (deterministic, §4/§13
    discipline): ``e_term = (d·n_a·10⁶) div n`` and ``v_term =
    (d·n_a·(n−n_a)·(n−d)·10⁶) div (n²·(n−1))`` — all decimal(38,0);
    per-key n ≲ 10⁶ keeps the v numerator inside 10³⁸ for µs-grain
    event-time tables.

    Plan: one (keys, t) grain groupBy with conditional partials; the
    at-risk counts for BOTH arms ride the same reverse-cumsum window;
    one final per-key sum. Output: ``(keys…, n_times, o_a, e_a_micro,
    v_micro)``.
    """
    base = df.filter(F.col(duration_col).isNotNull()).select(
        *keys,
        F.col(duration_col).alias("t"),
        F.when(event_col, F.lit(1)).otherwise(F.lit(0)).alias("_e"),
        F.when(group_a, F.lit(1)).otherwise(F.lit(0)).alias("_a"),
    )
    g = base.groupBy(*keys, "t").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_a").cast("long").alias("_na"),
        F.sum("_e").cast("long").alias("_d"),
        F.sum(F.expr("_e * _a")).cast("long").alias("_da"),
    )
    wrev = (
        W.partitionBy(*keys)
        .orderBy(F.col("t").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ar = g.withColumn("_rn", F.sum("_n").over(wrev).cast("long")).withColumn(
        "_rna", F.sum("_na").over(wrev).cast("long")
    )
    ev = ar.filter(F.col("_d") > 0)
    e_term = F.expr(
        "CAST((CAST(_d AS DECIMAL(38,0)) * _rna * 1000000) div _rn AS BIGINT)"
    )
    v_term = F.expr(
        "CAST(CASE WHEN _rn > 1 THEN "
        "(CAST(_d AS DECIMAL(38,0)) * _rna * (_rn - _rna) * (_rn - _d) * 1000000) "
        "div (CAST(_rn AS DECIMAL(38,0)) * _rn * (_rn - 1)) ELSE 0 END AS BIGINT)"
    )
    return (
        ev.withColumn("_et", e_term)
        .withColumn("_vt", v_term)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_times"),
            F.sum("_da").cast("long").alias("o_a"),
            F.sum("_et").cast("long").alias("e_a_micro"),
            F.sum("_vt").cast("long").alias("v_micro"),
        )
    )


def cramers_v(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cramér's V association strength between two categoricals — the
    normalized [0, 1] effect size on top of ``chi_square_cells``:
    ``V = √(χ²/(N·min(r−1, c−1)))``, reported in exact ppm via the §10
    integer square root (``χ²`` arrives as the ppm floor-sum, so
    ``v_ppm = isqrt(Σterm_ppm·10⁶ div (N·k))``) — no float sqrt.

    Plan: ``chi_square_cells``'s single shuffle + three 1-row
    re-aggregations. Output: one row ``(n, r, c, chi2_ppm, v_ppm)``.
    """
    cells = chi_square_cells(df, a_col, b_col)
    agg = cells.agg(
        F.sum("observed").cast("long").alias("n"),
        F.countDistinct("a").cast("long").alias("r"),
        F.countDistinct("b").cast("long").alias("c"),
        F.sum("term_ppm").cast("decimal(38,0)").alias("_chi"),
    )
    g = agg.withColumn(
        "_rad",
        F.expr(
            "CAST(CASE WHEN n > 0 AND least(r - 1, c - 1) > 0 THEN "
            "(_chi * 1000000) div (CAST(n AS DECIMAL(38,0)) * least(r - 1, c - 1)) "
            "ELSE 0 END AS DECIMAL(38,0))"
        ),
    )
    g = _with_exact_isqrt(g, "_rad", "_v")
    return g.select(
        "n",
        "r",
        "c",
        F.col("_chi").cast("long").alias("chi2_ppm"),
        F.col("_v").cast("long").alias("v_ppm"),
    )


def welch_t2(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    split: Column,
) -> DataFrame:
    """Welch's unequal-variance t statistic, reported SQUARED (t² is the
    F(1, ν) form — no sign/sqrt pair to carry) per key between two row
    populations (``split`` true → A, false → B): the parametric
    location test beside ``mann_whitney_u``'s rank version.

        ``t² = (m_a − m_b)² / (s²_a/n_a + s²_b/n_b)``

    Exactness contract: the per-population moments (n, Σv, Σv²) are
    EXACT integer sums — ``value_col`` must be integral-valued (cast to
    long; counts, cents, micro-units — rescale upstream), so the sums
    are associative and partition-order free. t² itself is then a FIXED
    double expression tree over those exact integers (each step one
    exactly-rounded IEEE op, identical in any engine):
    ``m = s/n; var = (q − s·m)/(n−1); t² = d·d/(var_a/n_a + var_b/n_b)``,
    floor(·10⁶ + 0.5) to micro. Bounds: Σv² must stay below 2⁵³
    (double-exact) — at |v| ≤ 10⁴ that is ~10⁸ rows per key; rescale or
    pre-aggregate beyond.

    Plan: one hash groupBy with map-side partials (two conditional sums
    per moment) — no window, no join, no second pass. Output:
    ``(keys…, n_a, n_b, mean_diff_micro, t2_micro)``; keys with n_a<2 or
    n_b<2 or zero pooled variance report NULL t2_micro.
    """
    v = F.col(value_col).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        v.alias("_v"),
        F.when(split, F.lit(1)).otherwise(F.lit(0)).alias("_a"),
    )
    g = base.groupBy(*keys).agg(
        F.sum("_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("_a")).cast("long").alias("n_b"),
        F.sum(F.col("_a") * F.col("_v")).cast("long").alias("_sa"),
        F.sum((1 - F.col("_a")) * F.col("_v")).cast("long").alias("_sb"),
        F.sum(F.col("_a") * F.col("_v") * F.col("_v")).cast("long").alias("_qa"),
        F.sum((1 - F.col("_a")) * F.col("_v") * F.col("_v")).cast("long").alias("_qb"),
    )
    # fixed IEEE tree: every subexpression is a single exactly-rounded
    # op on exact-integer inputs -> bit-identical in Spark and DuckDB
    ma = "(CAST(_sa AS DOUBLE) / n_a)"
    mb = "(CAST(_sb AS DOUBLE) / n_b)"
    va = f"((CAST(_qa AS DOUBLE) - CAST(_sa AS DOUBLE) * {ma}) / (n_a - 1))"
    vb = f"((CAST(_qb AS DOUBLE) - CAST(_sb AS DOUBLE) * {mb}) / (n_b - 1))"
    d = f"({ma} - {mb})"
    se2 = f"({va} / n_a + {vb} / n_b)"
    return g.select(
        *keys,
        "n_a",
        "n_b",
        F.expr(
            f"CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN "
            f"floor({d} * 1000000.0 + 0.5) END AS BIGINT)"
        ).alias("mean_diff_micro"),
        F.expr(
            f"CAST(CASE WHEN n_a > 1 AND n_b > 1 AND {se2} > 0 THEN "
            f"floor({d} * {d} / {se2} * 1000000.0 + 0.5) END AS BIGINT)"
        ).alias("t2_micro"),
    )


def _anova_f_from_int(
    base: DataFrame,
    keys: list[str],
    group_col: str,
    int_col: str,
    unit_den: int = 1,
) -> DataFrame:
    """One-way ANOVA F over an INTEGER-valued measure column, in the
    ``chi_square_cells`` floor-sum discipline: per-group between-term
    ``bg_g = (Σv)²·10⁶ div n_g`` floors once per group and sums as an
    exact integer, so the micro-precision SSB/SSW are associative and
    engine-identical; ``f_ppm`` divides them at full decimal precision.
    ``unit_den`` declares the input's fixed-point scale (int = value ·
    unit_den); the reported ``ssb_milli``/``ssw_milli`` rescale to
    MILLI VALUE-units² (``sign·abs div (unit_den²·10³)``) so they fit
    int64 at any corpus size while f_ppm keeps every micro of
    precision. Shared core of :func:`anova_f` / :func:`brown_forsythe`.
    One groupBy(keys, group) + one groupBy(keys).
    """
    # NOTE: Spark's `div` on decimals returns LONG and silently WRAPS
    # when the quotient exceeds 2^63 (bg here is ~Σv²·10⁶, far past it
    # on real keys) — the pmod construction is the exact decimal floor
    # division: a - pmod(a,b) is exactly divisible, so the decimal `/`
    # rounds to the true integral quotient
    per = base.groupBy(*keys, group_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(int_col).cast("decimal(38,0)").alias("_s"),
        F.sum(F.col(int_col).cast("decimal(38,0)") * F.col(int_col)).alias("_q"),
    ).withColumn(
        "_bg",
        F.expr(
            "CAST((_s * _s * 1000000 - pmod(_s * _s * 1000000, _n)) / _n "
            "AS DECIMAL(38,0))"
        ),
    )
    g = per.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("_n").cast("long").alias("n"),
        F.sum("_s").cast("decimal(38,0)").alias("_ts"),
        F.sum("_q").cast("decimal(38,0)").alias("_tq"),
        F.sum("_bg").cast("decimal(38,0)").alias("_tbg"),
    )
    rescale = int(unit_den) * int(unit_den) * 1000
    g = g.select(
        *keys,
        "k_groups",
        "n",
        F.expr(
            "CAST(_tbg - (_ts * _ts * 1000000 - pmod(_ts * _ts * 1000000, n)) / n "
            "AS DECIMAL(38,0))"
        ).alias("_ssb"),
        F.expr("CAST(_tq * 1000000 - _tbg AS DECIMAL(38,0))").alias("_ssw"),
    )
    # sign·abs floors throughout: the per-group floors can push a ~0 SSB
    # a few micro negative, and Spark div truncates where DuckDB //
    # floors — sign(x)·(|x| div d) is identical in both for either sign
    return g.select(
        *keys,
        "k_groups",
        "n",
        F.expr(f"CAST(CAST(sign(_ssb) AS BIGINT) * (abs(_ssb) div {rescale}) AS BIGINT)").alias(
            "ssb_milli"
        ),
        F.expr(f"CAST(CAST(sign(_ssw) AS BIGINT) * (abs(_ssw) div {rescale}) AS BIGINT)").alias(
            "ssw_milli"
        ),
        # F quotient saturates at M = 2^62-1: with SSW a few micro-units
        # the raw quotient exceeds long range and Spark's `div` (which
        # RETURNS BIGINT, wrapping silently) would corrupt it. Guard
        # exactly: when den <= (10^38-1) div M the product M*den fits
        # decimal(38,0), so `num > M*den` is an exact overflow test;
        # when den exceeds that bound the quotient is < M by pigeonhole
        # and the plain div is safe. Mirrored in the DuckDB oracle.
        F.expr(
            "CAST(CASE WHEN k_groups > 1 AND n > k_groups AND _ssw > 0 THEN "
            "CAST(sign(_ssb) AS BIGINT) * (CASE WHEN "
            "_ssw * CAST(k_groups - 1 AS DECIMAL(38,0)) <= "
            "CAST(21684043449710088684 AS DECIMAL(38,0)) AND "
            "abs(_ssb) * CAST(n - k_groups AS DECIMAL(38,0)) * 1000000 > "
            "CAST(4611686018427387903 AS DECIMAL(38,0)) * "
            "(_ssw * CAST(k_groups - 1 AS DECIMAL(38,0))) "
            "THEN 4611686018427387903 ELSE "
            "(abs(_ssb) * CAST(n - k_groups AS DECIMAL(38,0)) * 1000000) div "
            "(_ssw * CAST(k_groups - 1 AS DECIMAL(38,0))) END) "
            "END AS BIGINT)"
        ).alias("f_ppm"),
        # eta-squared effect size (variance explained) from the same SS
        F.expr(
            "CAST(CASE WHEN _ssb + _ssw > 0 THEN "
            "CAST(sign(_ssb) AS BIGINT) * ((abs(_ssb) * 1000000) div (_ssb + _ssw)) "
            "END AS BIGINT)"
        ).alias("eta2_ppm"),
    )


def anova_f(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-way ANOVA F statistic per key across the levels of
    ``group_col`` — the k-sample parametric companion to
    ``kruskal_wallis`` (which ranks; this uses the raw scale).

    ``F = (SSB/(k−1)) / (SSW/(N−k))`` with SSB/SSW carried in the
    integer micro floor-sum discipline (see ``_anova_f_from_int``):
    ``value_col`` must be integral-valued (cast to long — rescale
    upstream), so every moment is an exact associative integer sum and
    the single floor per group is deterministic in any engine. Bounds:
    (Σv)²·10⁶ must fit decimal(38,0) → Σ|v| per group ≲ 10¹⁵.

    Plan: two hash aggregations (group grain, then key grain), both
    map-side combinable — no window, no join, no data-sized second
    pass. Output: ``(keys…, k_groups, n, ssb_milli, ssw_milli, f_ppm,
    eta2_ppm)`` (milli value-units²; F and the η² variance-explained
    effect size in ppm).
    """
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(*keys, group_col, F.col(value_col).cast("long").alias("_v"))
    return _anova_f_from_int(base, keys, group_col, "_v", unit_den=1)


def brown_forsythe(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    group_col: str,
    buckets: int = 1024,
) -> DataFrame:
    """Brown–Forsythe homogeneity-of-variance test per key: one-way
    ANOVA on the absolute deviations from each group's MEDIAN — the
    robust (breakdown-0.5) form of Levene's test, the standard
    pre-check before trusting ``anova_f``'s equal-variance cousin.

    Exactness: the per-(key, group) median is a type-1 rank selection
    on the distinct-value grain (:func:`_grain_type1_quantile` — an
    actual data value), ``|v − med|`` is one exactly-rounded IEEE
    subtract, and the deviation enters the ANOVA core as
    ``floor(|v − med|·10³ + 0.5)`` — a deterministic MILLI integer
    (milli, not micro: the core squares these and carries another 10⁶
    of floor precision, so micro inputs would push Σd²·10⁶ past
    decimal(38,0) on big keys; milli keeps the headroom while the F
    statistic still resolves to ppm).

    Plan: grain groupBy + selection quantile (never a data-sized
    window), medians broadcast back, then ``_anova_f_from_int``'s two
    hash aggregations. NOTE eager planning: none — the selection path
    is forced bucketed (lazy), matching ``mad_outliers``.
    Output: ``(keys…, k_groups, n, ssb_milli, ssw_milli, f_ppm,
    eta2_ppm)`` (milli value-units², via unit_den=1000).
    """
    gk = [*keys, group_col]
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(*gk, F.col(value_col).alias("_v"))
    grain = base.groupBy(*gk, "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    med = _grain_type1_quantile(
        grain, gk, "_v", "_n", 1, 2, int(buckets), grain_count=1 << 62
    ).select(*gk, F.col("q").alias("_med"))
    dev = base.join(F.broadcast(med), gk).select(
        *gk,
        F.floor(F.abs(F.col("_v") - F.col("_med")) * F.lit(1000.0) + F.lit(0.5))
        .cast("long")
        .alias("_d"),
    )
    return _anova_f_from_int(dev, keys, group_col, "_d", unit_den=1000)


def kendall_tau(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
    max_grain: int = 1_000_000,
) -> DataFrame:
    """Kendall's τ-b (tie-adjusted concordance) per key between two
    DISCRETE columns, exact from the joint distinct-(x, y) grain:

        ``τ_b = (C − D) / √((T0 − Tx)(T0 − Ty))``

    with C/D the concordant/discordant pair counts, ``T0 = n(n−1)/2``
    and Tx/Ty the tied-pair counts from the x/y marginals. Reported as
    ``sign(C−D) · min(10⁶, |C−D|·10⁶ div isqrt((T0−Tx)·(T0−Ty)))`` —
    the exact integer square root + min-clamp convention shared with
    ``spearman_by_group`` (perfect concordance pins at exactly ±10⁶,
    no float sqrt anywhere). Degenerate keys (all-tied x or y) → NULL.

    Plan — grain-quadratic, NEVER data-quadratic: all counts live on
    the joint grain (one hash groupBy), C and D come from the grain
    self-join on ``x₁ < x₂`` (each unordered cell pair once), and the
    marginals are two grain-sized re-aggregations. The self-join is
    O(G²) in the DISTINCT-cell count G, so this operator is for
    genuinely discrete pairs (categories, counts, bucketed scores —
    pre-bucket continuous values with ``quantile_map``); a 1-row
    ``assert_true`` guard fails the job loudly if G exceeds
    ``max_grain`` instead of silently exploding the pair space.
    n per key must stay ≲ 10⁹ so (T0−Tx)(T0−Ty) fits decimal(38,0).
    Output: ``(keys…, n, conc, disc, tau_b_ppm, gamma_ppm)`` — the
    Goodman–Kruskal gamma ((C−D)/(C+D), ties ignored) rides for free
    from the same pair counts.
    """
    from aeon_mecha_spark.util import track_cached

    base = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).select(
        *keys, F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    )
    grain = (
        base.groupBy(*keys, "_x", "_y")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    guard = grain.agg(
        F.assert_true(
            F.count(F.lit(1)) <= F.lit(int(max_grain)),
            F.lit(f"kendall_tau: joint grain exceeds max_grain={max_grain}"),
        ).alias("_ok")
    )
    a = grain.select(
        *[F.col(k).alias(f"_k{i}") for i, k in enumerate(keys)],
        F.col("_x").alias("_x1"),
        F.col("_y").alias("_y1"),
        F.col("_n").alias("_n1"),
    )
    cond = [F.col(f"_k{i}") == F.col(k) for i, k in enumerate(keys)]
    # the filter REFERENCES _ok (assert_true yields NULL on success) so
    # column pruning cannot elide the guard expression before it runs
    guarded = grain.crossJoin(F.broadcast(guard)).filter(
        F.col("_ok").isNull()
    ).drop("_ok")
    pairs = a.join(
        guarded,
        [*cond, F.col("_x1") < F.col("_x")] if keys else [F.col("_x1") < F.col("_x")],
    )
    n1n2 = F.col("_n1").cast("decimal(38,0)") * F.col("_n")
    cd = pairs.groupBy(*keys).agg(
        F.sum(F.when(F.col("_y") > F.col("_y1"), n1n2).otherwise(F.lit(0))).alias("_c"),
        F.sum(F.when(F.col("_y") < F.col("_y1"), n1n2).otherwise(F.lit(0))).alias("_d"),
    )
    half = lambda c: (c.cast("decimal(38,0)") * (c - 1)) / 2  # noqa: E731
    xt = (
        grain.groupBy(*keys, "_x")
        .agg(F.sum("_n").cast("long").alias("_nx"))
        .groupBy(*keys)
        .agg(
            F.sum("_nx").cast("long").alias("n"),
            F.sum(half(F.col("_nx"))).cast("decimal(38,0)").alias("_tx"),
        )
    )
    yt = (
        grain.groupBy(*keys, "_y")
        .agg(F.sum("_n").cast("long").alias("_ny"))
        .groupBy(*keys)
        .agg(F.sum(half(F.col("_ny"))).cast("decimal(38,0)").alias("_ty"))
    )
    j = xt.join(yt, keys) if keys else xt.crossJoin(yt)
    j = (j.join(cd, keys, "left") if keys else j.crossJoin(cd)).select(
        *keys,
        "n",
        F.coalesce(F.col("_c"), F.lit(0)).cast("decimal(38,0)").alias("_c"),
        F.coalesce(F.col("_d"), F.lit(0)).cast("decimal(38,0)").alias("_d"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * (n - 1)) / 2 AS DECIMAL(38,0))"
        ).alias("_t0"),
        "_tx",
        "_ty",
    )
    j = j.withColumn(
        "_rad", F.expr("CAST((_t0 - _tx) * (_t0 - _ty) AS DECIMAL(38,0))")
    )
    j = _with_exact_isqrt(j, "_rad", "_den")
    out = j.select(
        *keys,
        "n",
        F.col("_c").cast("long").alias("conc"),
        F.col("_d").cast("long").alias("disc"),
        F.expr(
            "CAST(CASE WHEN _den > 0 THEN "
            "sign(_c - _d) * least(CAST(1000000 AS DECIMAL(38,0)), "
            "(abs(_c - _d) * 1000000) div _den) END AS BIGINT)"
        ).alias("tau_b_ppm"),
        # Goodman–Kruskal gamma rides for free: same C/D, ties ignored
        # entirely — the companion effect size when tie mass is large
        F.expr(
            "CAST(CASE WHEN _c + _d > 0 THEN "
            "sign(_c - _d) * ((abs(_c - _d) * 1000000) div (_c + _d)) "
            "END AS BIGINT)"
        ).alias("gamma_ppm"),
    )
    return track_cached(out, grain)


def mcnemar(
    df: DataFrame,
    keys: list[str],
    a: Column,
    b: Column,
) -> DataFrame:
    """McNemar's test for paired binary outcomes (each row = one paired
    observation; ``a``/``b`` the two boolean measurements): the
    uncorrected statistic ``(n₁₀ − n₀₁)² / (n₁₀ + n₀₁)`` over the
    discordant cells — marginal-homogeneity ("did the treatment flip
    outcomes?") where an unpaired chi-square would be wrong.

    Integer-exact: the four cell counts are one conditional-sum
    groupBy; the statistic is a single decimal floor division in ppm.
    Keys with no discordant pairs report NULL. One shuffle, map-side
    combinable. Output: ``(keys…, n, n11, n10, n01, n00, stat_ppm)``.
    """
    ai = F.when(a, F.lit(1)).otherwise(F.lit(0))
    bi = F.when(b, F.lit(1)).otherwise(F.lit(0))
    base = df.select(*keys, ai.alias("_a"), bi.alias("_b"))
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("_a") * F.col("_b")).cast("long").alias("n11"),
        F.sum(F.col("_a") * (1 - F.col("_b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("_a")) * F.col("_b")).cast("long").alias("n01"),
        F.sum((1 - F.col("_a")) * (1 - F.col("_b"))).cast("long").alias("n00"),
    )
    return g.withColumn(
        "stat_ppm",
        F.expr(
            "CAST(CASE WHEN n10 + n01 > 0 THEN "
            "(CAST(n10 - n01 AS DECIMAL(38,0)) * (n10 - n01) * 1000000) div "
            "(n10 + n01) END AS BIGINT)"
        ),
    )


def permutation_entropy(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    m: int = 3,
) -> DataFrame:
    """Permutation entropy (Bandt–Pompe) of order m=3 per key: Shannon
    entropy of the ORDINAL-PATTERN distribution over sliding windows of
    3 consecutive values in ``order_cols`` order — a complexity measure
    that is invariant to monotone rescaling (regular/periodic series
    score low, noise scores high; the standard cheap regularity probe
    beside ``acf``). Ties get their own symbols (the sign-signature
    ``(sign(v₁−v₀), sign(v₂−v₀), sign(v₂−v₁))`` — 13 realizable
    patterns) so the statistic is deterministic on tied data rather
    than tie-broken arbitrarily.

    Exactness: the entropy uses ``token_entropy``'s integer micro-nat
    discipline — per-pattern ``floor(c·ln c·10⁶ + 0.5)`` summed as
    exact integers, ``H = ln(n) − S/10⁶/n`` rounded to 6 dp — so the
    accumulation is associative and engine-identical.

    Plan: two ``lead`` windows per key (the per-key time order is
    intrinsically sequential; parallelism scales across keys), then two
    map-side-combinable hash aggregations on the tiny pattern grain.
    Only m=3 is offered: m! patterns at m≥4 need vector ranks — at that
    point use a real embedding, not an ordinal sketch.
    Output: ``(keys…, n_windows, n_patterns, entropy)``.
    """
    if m != 3:
        raise NotImplementedError("permutation_entropy: only m=3 is supported")
    w = W.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_cols])
    v0 = F.col(value_col).cast("double")
    lagged = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        v0.alias("_v0"),
        F.lead(v0, 1).over(w).alias("_v1"),
        F.lead(v0, 2).over(w).alias("_v2"),
    ).filter(F.col("_v1").isNotNull() & F.col("_v2").isNotNull())
    pat = F.concat_ws(
        ",",
        F.signum(F.col("_v1") - F.col("_v0")).cast("int").cast("string"),
        F.signum(F.col("_v2") - F.col("_v0")).cast("int").cast("string"),
        F.signum(F.col("_v2") - F.col("_v1")).cast("int").cast("string"),
    )
    counts = lagged.select(*keys, pat.alias("_p")).groupBy(*keys, "_p").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    c = F.col("_c").cast("double")
    contrib = F.floor(c * F.log(c) * F.lit(1000000.0) + F.lit(0.5))
    per = counts.groupBy(*keys).agg(
        F.sum("_c").cast("long").alias("n_windows"),
        F.count(F.lit(1)).cast("long").alias("n_patterns"),
        F.sum(contrib).cast("long").alias("_s"),
    )
    n = F.col("n_windows").cast("double")
    ent = F.round(
        F.log(n) - (F.col("_s").cast("double") / F.lit(1000000.0)) / n, 6
    )
    return per.select(*keys, "n_windows", "n_patterns", ent.alias("entropy"))


def durbin_watson(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Durbin–Watson serial-correlation statistic of a demeaned series
    per key (DW ≈ 2 → no lag-1 autocorrelation, → 0 positive, → 4
    negative): the residual-independence check behind ``ols2_by_group``
    and every per-key trend model. Because first differences cancel the
    mean, the DEMEANED residual form needs no explicit mean:

        ``DW = Σ(v_t − v_{t−1})² / Σ(v_t − v̄)²
             = n·ΣΔ² / (n·Σv² − (Σv)²)``

    Exactness: values enter as ``floor(v·10⁶ + 0.5)`` micro integers
    (one deterministic floor per row), so ΣΔ², Σv, Σv² are exact
    decimal sums and DW is ONE floor division, reported in milli.
    Keys with a degenerate denominator (constant series, n < 2) → NULL.

    Plan: one ``lag`` window per key (the per-key order is intrinsic;
    parallelism across keys) + one hash aggregate. Bounds: Σv² in
    micro² must fit decimal(38,0) → |v|·10⁶ ≲ 10¹⁵ per row and n ≲
    10⁸ per key at |v| ~ 10³.
    Output: ``(keys…, n, dw_milli)``.
    """
    w = W.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_cols])
    vi = F.floor(F.col(value_col).cast("double") * F.lit(1000000.0) + F.lit(0.5))
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys, *order_cols, vi.cast("decimal(38,0)").alias("_v")
    ).withColumn("_d", F.col("_v") - F.lag("_v", 1).over(w))
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_v").alias("_s"),
        F.sum(F.col("_v") * F.col("_v")).alias("_q"),
        F.sum(F.col("_d") * F.col("_d")).alias("_dd"),
    )
    return g.select(
        *keys,
        "n",
        F.expr(
            "CAST(CASE WHEN n > 1 AND n * _q - _s * _s > 0 THEN "
            "(n * _dd * 1000) div (n * _q - _s * _s) END AS BIGINT)"
        ).alias("dw_milli"),
    )


def cochran_armitage(
    df: DataFrame,
    keys: list[str],
    score_col: str,
    outcome: Column,
) -> DataFrame:
    """Cochran–Armitage trend test per key: is the binary outcome rate
    MONOTONICALLY related to an ordered integer score (dose, bucket,
    grade)? The 2×k tabular chi-square ignores order; this is the
    1-degree-of-freedom test that uses it.

    With per-score cells (n_i trials, x_i successes), N = Σn, P = Σx:

        ``T = Σ s·x − (P/N)·Σ s·n``      (trend numerator)
        ``Var = P(N−P)/N² · [Σ s²n − (Σ s·n)²/N] / N`` → cross-multiplied

        ``z² = (N·T)²·N div (P·(N−P)·(N·Σs²n − (Σs·n)²))``

    — one floor division on exact decimal(38,0) integers (scores must
    be integers; bucket/rank continuous doses upstream), reported in
    ppm. Degenerate keys (all-success, all-failure, constant score) →
    NULL. Output: ``(keys…, n, n_pos, z2_ppm)``.

    Plan: one hash groupBy to the (key, score) cell grain, one key
    aggregate — both map-side combinable, no window, no join. Bounds:
    (N·Σsx)² must fit decimal(38,0) → N·|s|·n ≲ 10¹⁹.
    """
    s = F.col(score_col).cast("decimal(38,0)")
    y = F.when(outcome, F.lit(1)).otherwise(F.lit(0))
    cells = df.filter(F.col(score_col).isNotNull()).select(
        *keys, s.alias("_s"), y.alias("_y")
    ).groupBy(*keys, "_s").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_x"),
    )
    g = cells.groupBy(*keys).agg(
        F.sum("_n").cast("decimal(38,0)").alias("_N"),
        F.sum("_x").cast("decimal(38,0)").alias("_P"),
        F.sum(F.col("_s") * F.col("_x")).alias("_sx"),
        F.sum(F.col("_s") * F.col("_n")).alias("_sn"),
        F.sum(F.col("_s") * F.col("_s") * F.col("_n")).alias("_ssn"),
    )
    return g.select(
        *keys,
        F.col("_N").cast("long").alias("n"),
        F.col("_P").cast("long").alias("n_pos"),
        F.expr(
            "CAST(CASE WHEN _P > 0 AND _P < _N "
            "AND _N * _ssn - _sn * _sn > 0 THEN "
            "((_N * _sx - _P * _sn) * (_N * _sx - _P * _sn) * _N * 1000000) div "
            "(_P * (_N - _P) * (_N * _ssn - _sn * _sn)) END AS BIGINT)"
        ).alias("z2_ppm"),
    )


def runs_test(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    buckets: int = 1024,
) -> DataFrame:
    """Wald–Wolfowitz runs test per key: is the sequence of
    above/below-median signs random, or does it clump (trend / regime
    switching) or alternate (negative feedback)? The nonparametric
    randomness check beside ``permutation_entropy``'s complexity view.

    Construction: the key's type-1 median comes from the distinct-value
    grain (:func:`_grain_type1_quantile`, broadcast back); rows AT the
    median are dropped (the standard two-category reduction), signs are
    compared to the previous sign in ``order_cols`` order, and the run
    count R is ``1 + Σ sign-changes``. Under H₀,
    ``μ_R = 2·n₁·n₂/N + 1`` and
    ``σ²_R = 2n₁n₂(2n₁n₂ − N) / (N²(N−1))``, so the squared z-score is
    ONE exact rational floor division, cross-multiplied in
    decimal(38,0) and reported in ppm with the sign·abs convention
    (sign of R − μ preserved in ``direction``: −1 clumping, +1
    alternating). Keys with n₁=0, n₂=0, or σ²=0 → NULL.

    Plan: grain selection median + broadcast, one lag window per key,
    two aggregates — no data-sized sort beyond the per-key window.
    Output: ``(keys…, n1, n2, runs, direction, z2_ppm)``.
    """
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys, F.col(value_col).alias("_v")
    )
    grain = base.groupBy(*keys, "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    med = _grain_type1_quantile(
        grain, keys, "_v", "_n", 1, 2, int(buckets), grain_count=1 << 62
    ).select(*keys, F.col("q").alias("_med"))
    w = W.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    # order columns ride along for the per-key lag window
    signed = df.filter(F.col(value_col).isNotNull()).select(
        *keys, *order_cols, F.col(value_col).alias("_v")
    )
    signed = (
        signed.join(F.broadcast(med), keys)
        if keys
        else signed.crossJoin(F.broadcast(med))
    )
    signed = signed.filter(F.col("_v") != F.col("_med")).withColumn(
        "_sgn", F.when(F.col("_v") > F.col("_med"), F.lit(1)).otherwise(F.lit(0))
    )
    flips = signed.withColumn(
        "_chg",
        F.when(
            F.lag("_sgn", 1).over(w).isNotNull()
            & (F.col("_sgn") != F.lag("_sgn", 1).over(w)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    g = flips.groupBy(*keys).agg(
        F.sum("_sgn").cast("decimal(38,0)").alias("_n1"),
        F.sum(1 - F.col("_sgn")).cast("decimal(38,0)").alias("_n2"),
        (F.sum("_chg") + 1).cast("decimal(38,0)").alias("_r"),
    )
    # z² = (R − μ)² / σ² cross-multiplied:
    #   num = (R·N − 2n1n2 − N)²·N·(N−1),  den = N²·... reduced:
    #   (R − μ)² = (R·N − (2n1n2 + N))² / N²
    #   σ² = 2n1n2(2n1n2 − N) / (N²(N−1))
    #   z² = (R·N − 2n1n2 − N)²·(N−1) div (2n1n2·(2n1n2 − N))
    return g.select(
        *keys,
        F.col("_n1").cast("long").alias("n1"),
        F.col("_n2").cast("long").alias("n2"),
        F.col("_r").cast("long").alias("runs"),
        F.expr(
            "CAST(sign(_r * (_n1 + _n2) - 2 * _n1 * _n2 - (_n1 + _n2)) AS INT)"
        ).alias("direction"),
        F.expr(
            "CAST(CASE WHEN _n1 > 0 AND _n2 > 0 "
            "AND 2 * _n1 * _n2 * (2 * _n1 * _n2 - (_n1 + _n2)) > 0 THEN "
            "((_r * (_n1 + _n2) - 2 * _n1 * _n2 - (_n1 + _n2)) "
            " * (_r * (_n1 + _n2) - 2 * _n1 * _n2 - (_n1 + _n2)) "
            " * ((_n1 + _n2) - 1) * 1000000) div "
            "(2 * _n1 * _n2 * (2 * _n1 * _n2 - (_n1 + _n2))) END AS BIGINT)"
        ).alias("z2_ppm"),
    )


def mood_median(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    group_col: str,
    buckets: int = 1024,
) -> DataFrame:
    """Mood's median test per key: do the k groups share a common
    median? Chi-square on the 2×k table of above/below-the-POOLED-
    median counts (rows AT the median dropped — the standard
    two-category reduction) — the crudest but most outlier-proof
    k-sample location test; use beside ``kruskal_wallis`` when the
    data defeat even rank assumptions.

    Exactness: the pooled per-key median is a type-1 grain selection
    (an actual data value); each 2×k cell term is the cross-multiplied
    ``(O·N − n_g·R)²·10⁶ div (N·n_g·R)`` — ``chi_square_cells``'
    floor-per-cell discipline, exact decimal(38,0) throughout
    (bound: O·N < 10¹⁶, i.e. N ≲ 10⁸ per key; pre-aggregate beyond).

    Plan: grain groupBy + selection quantile + broadcast back, one
    cell-grain aggregate, one key aggregate. Output:
    ``(keys…, k_groups, n, chi2_ppm)``.
    """
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(*keys, group_col, F.col(value_col).alias("_v"))
    grain = base.groupBy(*keys, "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    med = _grain_type1_quantile(
        grain, keys, "_v", "_n", 1, 2, int(buckets), grain_count=1 << 62
    ).select(*keys, F.col("q").alias("_med"))
    joined = (
        base.join(F.broadcast(med), keys)
        if keys
        else base.crossJoin(F.broadcast(med))
    )
    cells = joined.filter(F.col("_v") != F.col("_med")).groupBy(
        *keys, group_col
    ).agg(
        F.sum(F.when(F.col("_v") > F.col("_med"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("_oa"),
        F.sum(F.when(F.col("_v") < F.col("_med"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("_ob"),
    )
    tot = cells.groupBy(*keys).agg(
        F.sum("_oa").alias("_ta"),
        F.sum("_ob").alias("_tb"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
    )
    jc = cells.join(tot, keys) if keys else cells.crossJoin(F.broadcast(tot))
    nn = "(_ta + _tb)"
    ng = "(_oa + _ob)"
    term = (
        f"CASE WHEN {nn} > 0 AND {ng} > 0 AND _R > 0 THEN "
        f"((_O * {nn} - {ng} * _R) * (_O * {nn} - {ng} * _R) * 1000000) div "
        f"({nn} * {ng} * _R) ELSE 0 END"
    )
    terms = jc.selectExpr(
        *keys,
        "k_groups",
        f"{nn} AS _nn",
        f"inline(array(struct(_oa AS _O, _ta AS _R), "
        f"struct(_ob AS _O, _tb AS _R)))",
        "_oa", "_ob", "_ta", "_tb",
    ).withColumn("_t", F.expr(term))
    g = terms.groupBy(*keys).agg(
        F.first("k_groups").alias("k_groups"),
        F.first("_nn").cast("long").alias("n"),
        F.sum("_t").cast("decimal(38,0)").alias("_chi"),
    )
    return g.select(
        *keys,
        "k_groups",
        "n",
        F.col("_chi").cast("long").alias("chi2_ppm"),
    )


def friedman(
    df: DataFrame,
    keys: list[str],
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test per key: do k treatments differ when measured
    within matched blocks (repeated measures — the rank companion of a
    two-way ANOVA without interactions; use where ``kruskal_wallis``'s
    independence assumption is wrong because every block sees every
    treatment). Page's L (the ordered-alternative trend statistic over
    the same ranks, treatments ordered lexicographically) rides along.

    Construction: the cell measure is ``Σ value`` per (block,
    treatment) — ``value_col`` must be integral (cast long; pass a
    literal 1 for pure frequency designs) so cells are exact. Only
    COMPLETE blocks (all k treatments present) enter, per the test's
    definition. Within-block ranks use the DOUBLED average-rank trick
    (``dr = 2·rank + ties − 1``, §12) so ties stay integral, and the
    tie-corrected statistic reduces to pure integers:

        ``Q = (k−1) · Σ_j (DR_j − n(k+1))² div Σ_ij (dr_ij − (k+1))²``

    (the /2 of ranks and the /4 of both squares cancel). Reported in
    ppm; degenerate keys (all-tied blocks → zero denominator) → NULL.
    ``page_l2 = Σ_j s_j·DR_j`` is the DOUBLED Page L (integer; s_j =
    1-based lexicographic treatment index).

    Plan: one cell-grain groupBy, a complete-block semi-join (block-
    grain), per-BLOCK rank windows over exactly k rows each (parallel
    across blocks — never a key-wide sort), one treatment-grain and one
    key-grain aggregate. Bounds: k·(2nk)² < 10³⁸ → n·k ≲ 10¹⁸.
    Output: ``(keys…, k, n_blocks, q_ppm, page_l2)``.
    """
    gkb = [*keys, block_col]
    cells = (
        df.filter(
            F.col(treatment_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(*gkb, treatment_col)
        .agg(F.sum(F.col(value_col).cast("long")).cast("long").alias("_m"))
    )
    ktab = (
        cells.select(*keys, treatment_col)
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("_k"))
    )
    bsize = cells.groupBy(*gkb).agg(F.count(F.lit(1)).cast("long").alias("_bc"))
    complete = (
        (bsize.join(ktab, keys) if keys else bsize.crossJoin(F.broadcast(ktab)))
        .filter(F.col("_bc") == F.col("_k"))
        .select(*gkb, "_k")
    )
    c2 = cells.join(complete, gkb)
    wb = W.partitionBy(*gkb).orderBy(F.col("_m").asc())
    wt = W.partitionBy(*gkb, "_m")
    dr = (2 * F.rank().over(wb) + F.count(F.lit(1)).over(wt) - 1).cast("long")
    ranked = c2.withColumn("_dr", dr)
    # lexicographic treatment index per key (k-row table, broadcast)
    tidx = (
        cells.select(*keys, treatment_col)
        .distinct()
        .withColumn(
            "_s",
            F.row_number().over(
                (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy(
                    F.col(treatment_col).asc()
                )
            ),
        )
    )
    per_t = ranked.groupBy(*keys, treatment_col).agg(
        F.sum("_dr").cast("decimal(38,0)").alias("_DR"),
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.first("_k").alias("_k"),
        F.sum(
            (F.col("_dr") - F.col("_k") - 1) * (F.col("_dr") - F.col("_k") - 1)
        ).cast("decimal(38,0)").alias("_dsq"),
    ).join(F.broadcast(tidx), [*keys, treatment_col])
    g = per_t.groupBy(*keys).agg(
        F.first("_k").alias("k"),
        F.first("_n").cast("long").alias("n_blocks"),
        F.sum(
            (F.col("_DR") - F.col("_n") * (F.col("_k") + 1))
            * (F.col("_DR") - F.col("_n") * (F.col("_k") + 1))
        ).cast("decimal(38,0)").alias("_num"),
        F.sum("_dsq").cast("decimal(38,0)").alias("_den"),
        F.sum(F.col("_s") * F.col("_DR")).cast("long").alias("page_l2"),
    )
    return g.select(
        *keys,
        F.col("k").cast("long").alias("k"),
        "n_blocks",
        F.expr(
            "CAST(CASE WHEN _den > 0 THEN "
            "((k - 1) * _num * 1000000) div _den END AS BIGINT)"
        ).alias("q_ppm"),
        "page_l2",
    )
