"""Incrementally-maintained rollup tables (continuous aggregates).

The reference maintains per-chunk summary-stat tables incrementally via
``populate()`` over an hour-chunked key_source (streams_maker.py:183-264);
this generalizes that into the TimescaleDB continuous-aggregate model on
Parquet: a stored rollup at one granularity, refreshed by recomputing
ONLY the time buckets that can still change.

Watermark semantics: buckets strictly older than the rollup's current
maximum bucket are treated as final (the reference makes the same
assumption — a chunk file stops growing once its hour has passed,
acquisition.py:457-511). A default ``refresh()`` therefore scans only
the open bucket forward: partition pruning on the fact table keeps the
scan proportional to NEW data, not table size. Late rewrites of older
history are handled by an explicit ``refresh(since=...)`` (the
reference's delete-and-repopulate analog).

Write path: when the rollup table is partitioned, refreshed buckets are
swapped in via dynamic partition overwrite (only touched partitions
rewritten); otherwise ``Table.upsert`` rewrites the (small) rollup.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aeon_mecha_spark.pipeline.orchestrator import Table


@dataclass
class ContinuousAggregate:
    """A stored groupBy(bucket, dims).agg(aggs) over a fact scan.

    source       SparkSession → fact DataFrame (a partition-pruned scan).
    ts_col       event-time column in the source.
    dims         non-time grouping columns.
    agg_factory  () → list of aggregate Columns (a factory so one spec
                 can be refreshed from several sessions).
    granularity  date_trunc unit for the bucket column.
    table        rollup storage; pk must be [bucket, *dims].
    """

    source: Callable[[SparkSession], DataFrame]
    ts_col: str
    dims: list[str]
    agg_factory: Callable[[], list[Column]]
    table: Table
    granularity: str = "hour"
    bucket_col: str = "bucket"

    def watermark(self, spark: SparkSession) -> dt.datetime | None:
        """Max stored bucket — everything strictly before it is final."""
        cur = self.table.read(spark)
        if cur is None:
            return None
        row = cur.agg(F.max(self.bucket_col).alias("m")).collect()[0]
        return row["m"]

    def _fresh(self, spark: SparkSession, since, until) -> DataFrame:
        src = self.source(spark)
        bucket = F.date_trunc(self.granularity, F.col(self.ts_col))
        if since is not None:
            # predicate on ts (not the derived bucket) so it pushes down
            # to the fact scan / its partition columns
            src = src.filter(F.col(self.ts_col) >= F.lit(since))
        if until is not None:
            src = src.filter(F.col(self.ts_col) < F.lit(until))
        return src.groupBy(bucket.alias(self.bucket_col), *self.dims).agg(
            *self.agg_factory()
        )

    def refresh(
        self,
        spark: SparkSession,
        since: dt.datetime | None = None,
        until: dt.datetime | None = None,
    ) -> int:
        """Recompute buckets in [since, until) and swap them into the
        rollup. Default ``since`` = the watermark (the open bucket —
        the only one append-only data can still change); pass an earlier
        ``since`` after rewriting history. Returns rows written."""
        if since is None:
            since = self.watermark(spark)  # None on first run -> full build
        fresh = self._fresh(spark, since, until)
        if not self.table.exists(spark):
            return self.table.insert(fresh, skip_duplicates=False)
        # dynamic partition overwrite is only bucket-safe when partitions
        # ARE buckets: a dim-only partition spec would replace each dim's
        # WHOLE partition with just the refreshed buckets, deleting
        # closed history — those tables take the upsert path instead
        if self.table.partition_by and self.bucket_col in self.table.partition_by:
            out = fresh.cache()
            try:
                n = out.count()
                self.table.overwrite_partitions(out)
            finally:
                out.unpersist()
            return n
        return self.table.upsert(fresh)
