"""Incremental pipeline orchestrator — the Spark re-expression of
DataJoint's table tiers + ``populate()`` (SURVEY §2.9 T4-T6, §3.2;
/root/reference/aeon/dj_pipeline/utils/streams_maker.py:199-264,
spike_sorting.py:123-382).

Reference model → Spark model:

- table tier (Lookup/Manual/Imported/Computed) → ``Tier`` metadata on a
  Parquet-backed table;
- ``key_source`` (an SQL expression over upstream tables) → a function
  ``SparkSession → DataFrame`` of candidate primary keys;
- ``populate()``'s per-key loop inside MySQL transactions → ONE set-at-once
  pass: ``pending = key_source ANTI-JOIN done`` → transform *all*
  pending keys in a single DataFrame plan, restricted to them by a
  semi-join → one cache + count + atomic append. Before the transform
  pending is only checked for emptiness (so a no-op call never runs the
  transform), never cached or counted, and the append does not re-check
  the stored table (pending already excludes it). The per-key loop in
  the reference is an artifact of row-store transactions, not of the
  computation; batch recompute is both simpler and ~#keys× faster.
- per-key rollback → job-level atomicity: the append only commits if the
  whole transform succeeds (Parquet dir commit protocol).
- 3-phase make_fetch/make_compute/make_insert (spike_sorting.py:174-382)
  → read-DF / transform / write-DF, which is exactly a Spark job.

Schema: a ``Table`` keeps the schema of what it holds (recorded on every
write it makes, inferred at most once otherwise) and reads through it,
the analog of DataJoint's declared table heading; see ``Table``.

Idempotency: pending keys and ``Table.insert`` anti-join on the PK
against what's already stored, so re-running after a partial failure or
on overlapping key_sources never duplicates rows — the analog of the
reference's skip-if-ingested guards (acquisition.py:243-244,
ephys.py:449-454).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


class Tier(str, Enum):
    LOOKUP = "lookup"
    MANUAL = "manual"
    IMPORTED = "imported"
    COMPUTED = "computed"


def _as_nullable(t: DataType) -> DataType:
    """Spark's ``DataType.asNullable``: every field, element and map value
    nullable, which is what a Parquet scan reports whatever was written."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


@dataclass
class Table:
    """A Parquet-backed pipeline table with PK metadata.

    A table holds one schema, and the object keeps the schema of its data
    files, so its reads (``read``, ``scan``, the anti-joins of ``insert``
    and ``ComputedTable.pending``) hand it to the Parquet reader instead of
    having Spark infer it from a footer, which costs a one-task job per
    read. Every write through the object records the data columns it
    leaves, all nullable, as the footer has them. A path the object never
    wrote is inferred once, on its first read, and kept. An append whose
    data columns differ from the record, or that goes to a path whose
    schema is not known, drops the record, so the next read infers again.
    Partition columns are never recorded: Spark types them from the
    directory names while it lists the files, as an inferring read does,
    and puts them last. Writes to the path that bypass the object are not
    seen, which is why the schema lives on the object and not in a cache
    keyed on the path.
    """

    name: str
    pk: list[str]
    root: str
    tier: Tier = Tier.MANUAL
    partition_by: list[str] = field(default_factory=list)
    _schema: StructType | None = field(default=None, init=False, repr=False, compare=False)

    @property
    def path(self) -> str:
        return os.path.join(self.root, self.name)

    def exists(self, spark: SparkSession | None = None) -> bool:
        """Existence check that works on any Hadoop-compatible filesystem
        (s3a://, hdfs://, file://) when a session is supplied; plain
        os.path only covers local roots."""
        if spark is None:
            return os.path.exists(self.path)
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not self.exists(spark):
            return None
        return self.scan(spark)

    def scan(self, spark: SparkSession) -> DataFrame:
        """The stored rows, read with the recorded data schema (inferred
        here, once, if this object has not written or read the path)."""
        if self._schema is None:
            df = spark.read.parquet(self.path)
            self._schema = self._data_schema(df)
            return df
        return spark.read.schema(self._schema).parquet(self.path)

    def _data_schema(self, df: DataFrame) -> StructType:
        return StructType([f for f in df.schema.fields if f.name not in self.partition_by])

    def _record(self, df: DataFrame, replaced: bool) -> None:
        """Keep the data schema a write of ``df`` left. ``replaced``: the
        write replaced the table's contents (or created it); an append
        keeps the record only if it matches."""
        s = _as_nullable(self._data_schema(df))
        self._schema = s if replaced or s == self._schema else None

    def insert(self, df: DataFrame, skip_duplicates: bool = True) -> int:
        """Idempotent append (S13): anti-join on PK against stored rows —
        the MERGE-less equivalent of ``insert(skip_duplicates=True)``.
        Returns the number of rows appended."""
        spark = df.sparkSession
        existed = self.exists(spark)
        if skip_duplicates and existed:
            # a left_anti join drops a row on any match, so duplicate
            # stored keys need no dedupe (it would cost a shuffle); the
            # join moves the keys first, and the select puts the columns
            # back in the order the first write used, so every file of
            # the table has one schema
            done = self.scan(spark).select(*self.pk)
            df = df.join(done, self.pk, "left_anti").select(*df.columns)
        df = df.cache()
        n = df.count()
        if n:
            writer = df.write.mode("append")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(self.path)
            self._record(df, replaced=not existed)
        df.unpersist()
        return n

    def _rm(self, spark: SparkSession, path: str) -> None:
        """Recursive delete through the Hadoop FileSystem API — works on
        every root exists() supports (s3a://, hdfs://, file://), where
        shutil would silently no-op."""
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        fs.delete(hpath, True)

    def _rewrite(self, spark: SparkSession, out: DataFrame) -> None:
        """Replace the table's contents via a tmp dataset (Parquet can't
        read and overwrite the same path in one job)."""
        tmp = self.path + "__rewrite"

        def _write(d: DataFrame, dest: str) -> None:
            w = d.write.mode("overwrite")
            if self.partition_by:
                w = w.partitionBy(*self.partition_by)
            w.parquet(dest)

        _write(out, tmp)
        self._record(out, replaced=True)
        _write(spark.read.schema(self._schema).parquet(tmp), self.path)
        self._rm(spark, tmp)

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Dynamic partition overwrite: replace exactly the
        ``partition_by`` partitions ``df`` holds and keep the others,
        which are expected to hold the same columns (the table's schema
        becomes ``df``'s)."""
        spark = df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(*self.partition_by).parquet(self.path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        self._record(df, replaced=True)

    def upsert(self, df: DataFrame) -> int:
        """MERGE-by-PK without Delta: replace stored rows whose PK
        appears in ``df``, append the rest — the reference's ``update1``
        + ``insert`` in one atomic-per-table rewrite
        (acquisition.py:267-304 Chunk.update1 of chunk_end).

        Raises on duplicate PKs within ``df`` (real MERGE semantics —
        silently keeping an arbitrary one would hide upstream bugs).
        Full-table rewrite is the Parquet-only cost of updates; tables
        that need frequent upserts should be partitioned (partition_by)
        so dynamic-partition-overwrite ingestion (ingest.py) handles them
        instead. Returns the number of incoming rows.
        """
        spark = df.sparkSession
        df = df.cache()
        try:
            n = df.count()
            n_keys = df.select(*self.pk).dropDuplicates().count()
            if n_keys != n:
                raise ValueError(
                    f"upsert into {self.name}: {n - n_keys} duplicate PK rows "
                    f"in the incoming DataFrame"
                )
            cur = self.read(spark)
            if cur is None:
                return self.insert(df, skip_duplicates=False)
            keep = cur.join(df.select(*self.pk), self.pk, "left_anti").select(*cur.columns)
            self._rewrite(spark, keep.unionByName(df.select(*cur.columns)))
            return n
        finally:
            df.unpersist()

    def delete_restriction(self, spark: SparkSession, predicate: str) -> int:
        """Targeted recompute support (the reference's delete-and-repopulate
        curation loop, spike_sorting_curation.py:204-215): rewrite the
        table without matching rows."""
        cur = self.read(spark)
        if cur is None:
            return 0
        # keep rows where the predicate is NOT TRUE — a NULL predicate
        # (e.g. NULL column value) must NOT delete the row
        keep = cur.filter(~F.expr(predicate).eqNullSafe(F.lit(True))).cache()
        kept = keep.count()
        self._rewrite(spark, keep)
        keep.unpersist()
        return kept


@dataclass
class ComputedTable:
    """A derived table with a key_source and a set-at-once make.

    key_source  SparkSession → DataFrame of candidate PKs (the upstream
                join, e.g. Chunk ⋈θ device-active-interval for stream
                tables — streams_maker.py:202-216).
    make        (SparkSession, pending_keys DF) → full rows DF. Must be
                deterministic; it runs over *all* pending keys at once.
                Rows it emits for keys outside ``pending`` (stored or
                unknown keys) are dropped, never inserted.
    """

    table: Table
    key_source: Callable[[SparkSession], DataFrame]
    make: Callable[[SparkSession, DataFrame], DataFrame]

    def pending(self, spark: SparkSession) -> DataFrame:
        """pending = key_source − done (T4; spike_sorting.py:1271)."""
        ks = self.key_source(spark).select(*self.table.pk).dropDuplicates()
        done = self.table.read(spark)
        if done is None:
            return ks
        return ks.join(done.select(*self.table.pk), self.table.pk, "left_anti")

    def populate(self, spark: SparkSession, ledger: "RunLedger | None" = None) -> int:
        """Make and append every pending key in one pass: ``make`` runs
        over the uncached pending keys, its rows are restricted to them by
        one ``left_semi`` join, and ``Table.insert`` caches, counts and
        writes the result once. Pending already excludes every stored key,
        so the insert skips its own anti-join. Returns the rows inserted.

        An emptiness check on pending comes first, so a no-op call never
        builds or runs ``make`` (whose plan may scan a whole raw tree), and
        a DAG sweep is mostly no-op calls. A round with pending keys pays
        for it: the pending plan (key_source and the stored keys) runs
        once more, in the check. The pending count itself is not taken
        (see ``RunLedger``)."""
        t0 = time.time()
        pend = self.pending(spark)
        if pend.isEmpty():
            if ledger:
                ledger.record(self.table.name, 0, 0, time.time() - t0, "noop")
            return 0
        rows = self.make(spark, pend).join(pend, self.table.pk, "left_semi")
        n = self.table.insert(rows, skip_duplicates=False)
        if ledger:
            ledger.record(self.table.name, n, n, time.time() - t0, "ok")
        return n


class RunLedger:
    """Append-only populate audit log (the analog of DataJoint's job
    table) — one JSON line per populate call.

    Status is ``noop`` when nothing was pending, ``ok`` otherwise. The
    one-pass populate never counts its pending keys, so ``n_pending``
    records the rows inserted, the same number as ``n_inserted`` (the
    keys made, when ``make`` emits one row per key). A ``make`` that
    drops some pending keys therefore cannot be seen from the ledger; one
    that drops them all shows as ``ok`` with nothing inserted."""

    def __init__(self, root: str):
        self.path = os.path.join(root, "_ledger.jsonl")

    def record(self, table: str, n_pending: int, n_inserted: int, seconds: float, status: str) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "a") as f:
            f.write(
                json.dumps(
                    {
                        "table": table,
                        "n_pending": n_pending,
                        "n_inserted": n_inserted,
                        "seconds": round(seconds, 3),
                        "status": status,
                        "at": time.strftime("%Y-%m-%dT%H:%M:%S"),
                    }
                )
                + "\n"
            )

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]


def populate_all(spark: SparkSession, tables: list[ComputedTable], ledger: RunLedger | None = None) -> dict[str, int]:
    """Sweep a DAG of computed tables in list order (callers order
    topologically — the reference's worker loop does the same)."""
    return {ct.table.name: ct.populate(spark, ledger) for ct in tables}
