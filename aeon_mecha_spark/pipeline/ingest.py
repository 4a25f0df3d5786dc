"""End-to-end raw ingestion — the Spark twin of
``acquisition.Epoch.ingest_epochs`` → ``Chunk.ingest_chunks`` →
per-stream populate (/root/reference/aeon/dj_pipeline/acquisition.py:
219-306,457-549; streams_maker.py:199-264; SURVEY §3.3).

One deterministic batch flow, re-runnable on a grown file listing:

  file listing ──parse──► ingestion facts (experiment, epoch, device,
        stream, chunk_ts)                     [sources.metadata]
     ──lead()──► epoch table (epoch_end backfill = window, not update1)
     ──clamp──► chunk table (hour bounds capped by epoch)
     ──load+stats──► per-chunk stream summary rows (the streams_maker
        per-chunk stats table)                [operators.stats]
     ──Table.insert──► idempotent Parquet append
        partitioned by chunk_date             [pipeline.orchestrator]

``fetch_stream`` is the read path (dj_pipeline/__init__.py:71-106):
partition-pruned stream scan → time sort — partition pruning does the
chunk selection the reference does with a chunk restriction. Like the
reference's declared table headings, the ``Table`` that
``write_stream_table`` returns carries the schema it wrote, so building
a fetch runs no Spark job (an inferring Parquet read would run one to
read a footer). The sort is sized by the window: when the files Spark's
partition pruning selects for it hold at most one scan split
(``spark.sql.files.maxPartitionBytes``), one task reads and sorts them
(one job, one output partition, so a per-stream operator on the fetch
plans no exchange); a larger window keeps the parallel range sort. The
reference's fetch is an in-memory frame, so its windows are this small
by contract; the rule keys on the window, not the store, so it holds
however large the store grows.

Scale: the listing is a metadata DataFrame (100 TB of data is ~10⁷
hourly files — trivially a DataFrame); stats are one groupBy over the
stream scan; the stream table partitions by (stream_name, chunk_date) so
time-ranged reads prune partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aeon_mecha_spark.operators.sessionize import derive_chunks, derive_epochs
from aeon_mecha_spark.operators.stats import column_stats_exprs
from aeon_mecha_spark.pipeline.orchestrator import Table, Tier
from aeon_mecha_spark.sources.metadata import parse_chunk_listing


def ingestion_facts(listing: DataFrame) -> DataFrame:
    """Paths → parsed facts, epoch bounds, chunk bounds — all relational."""
    facts = parse_chunk_listing(listing)
    return derive_chunks(facts)


def epoch_table(listing: DataFrame) -> DataFrame:
    return derive_epochs(parse_chunk_listing(listing))


def stream_summary(
    stream_df: DataFrame,
    value_cols: list[str],
    keys: list[str] = ("experiment_name", "device_name", "stream_name"),
    time_col: str = "time",
) -> DataFrame:
    """Per-chunk summary row (streams_maker.py:183-197): PK + sample
    count + per-column stats. chunk_start = hour floor of the sample
    time; ties to the chunk table by (keys, chunk_start)."""
    keys = list(keys)
    floor = F.date_trunc("hour", F.col(time_col))
    # first chunk of an epoch starts at epoch_start, not the hour floor
    # (acquisition.py:500-506) — clamp when the stream carries its epoch
    if "epoch_start" in stream_df.columns:
        floor = F.greatest(floor, F.col("epoch_start"))
    with_chunk = stream_df.withColumn("chunk_start", floor)
    exprs = [F.count(F.lit(1)).alias("sample_count")]
    for c in value_cols:
        exprs.extend(column_stats_exprs(c))
    return with_chunk.groupBy(*keys, "chunk_start").agg(*exprs)


def write_stream_table(
    df: DataFrame,
    root: str,
    name: str,
    time_col: str = "time",
) -> Table:
    """Materialize a raw stream as a partitioned Parquet table:
    partitioned by (stream date) so time-range queries prune partitions
    — the storage analog of the reference's per-hour chunk files.
    Partitioning by day (not hour) keeps file counts sane at 100 TB;
    row-group min/max stats give sub-day skipping within partitions."""
    out = df.withColumn("chunk_date", F.to_date(F.col(time_col)))
    t = Table(name, pk=[time_col], root=root, tier=Tier.IMPORTED, partition_by=["chunk_date"])
    # dynamic partition overwrite: re-running ingestion replaces exactly
    # the partitions it produces — idempotent without a PK anti-join
    t.overwrite_partitions(out)
    return t


def _scan_bytes(df: DataFrame) -> int | None:
    """Bytes of the files that the file scan under ``df`` selects: Spark's
    own partition pruning by ``df``'s filters, over the listing the scan's
    file index already holds (no file-system call). None when the plan
    does not read one file scan; the caller then keeps the parallel sort."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    if leaves.size() != 1:
        return None
    scan = leaves.apply(0)
    if scan.getClass().getSimpleName() != "FileSourceScanExec":
        return None
    return scan.selectedPartitions().totalFileSize()


def fetch_stream(
    spark: SparkSession,
    stream_table: Table | str,
    start=None,
    end=None,
    time_col: str = "time",
) -> DataFrame:
    """Read-path equivalent of ``fetch_stream`` (dj_pipeline/__init__.py:
    71-106): time-ranged scan, sorted by time. The chunk selection the
    reference does via chunk-PK restriction happens here as partition
    pruning + parquet row-group skipping on the pushed time predicate.

    A ``Table`` is read with the schema it carries (``Table.scan``), so
    building the fetch starts no Spark job; a path string is read with
    Spark's schema inference, one footer-reading job per call.

    The sort follows the window's size: the bytes of the files the scan
    selects once Spark has pruned the ``chunk_date`` partitions by the
    window's filters (``_scan_bytes``; an open bound takes every partition
    on its side). If they fit one scan split
    (``spark.sql.files.maxPartitionBytes``), one task reads the window and
    sorts it: ``coalesce(1).sortWithinPartitions``, one job with a single
    output partition, which every per-stream clustering downstream already
    satisfies, so an operator on the fetch plans no exchange. Otherwise
    ``orderBy`` range-sorts in parallel, at the cost of a
    boundary-sampling job and a shuffle. Both give the same rows in the
    same order. The decision depends on the window (its length times one
    stream's rate), never on the store's size, so it holds however large
    the store grows; the threshold compares compressed Parquet bytes with
    the split, and the one task decompresses and sorts them all."""
    if isinstance(stream_table, Table):
        df = stream_table.scan(spark)
    else:
        df = spark.read.parquet(stream_table)
    # derive predicates on the PARTITION column from the time range —
    # the row filter on `time` alone would scan every partition; the
    # chunk_date bounds are what partition pruning keys on
    if start is not None:
        df = df.filter(
            (F.col(time_col) >= F.lit(start))
            & (F.col("chunk_date") >= F.to_date(F.lit(start)))
        )
    if end is not None:
        # end is exclusive: the last relevant partition is the date of
        # (end − 1 µs), so a midnight end doesn't read the next day
        last_date = F.to_date(F.lit(end) - F.expr("INTERVAL 1 MICROSECOND"))
        df = df.filter((F.col(time_col) < F.lit(end)) & (F.col("chunk_date") <= last_date))
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    size = _scan_bytes(df)
    if size is not None and size <= split:
        return df.coalesce(1).sortWithinPartitions(time_col)
    return df.orderBy(time_col)
