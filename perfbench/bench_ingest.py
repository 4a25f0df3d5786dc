"""Raw tree -> store, through the package's public ingest path.

``full_ingest`` discovers every stream's chunk files across the two roots,
inserts the epoch and chunk tables, loads each stream into its stream
table and populates the per-chunk summary tables. ``incremental_round``
appends one hour for every stream and repeats discovery, insert, the
reload of the current day's partition and ``populate_all``.

Each call into a package layer is one span; see spans.py.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

from aeon_mecha_spark.pipeline import ingest
from aeon_mecha_spark.pipeline.orchestrator import ComputedTable, Table, Tier, populate_all
from aeon_mecha_spark.sources import load as L
from aeon_mecha_spark.sources.readers import Reader

import gen

SUMMARY_PK = ["device_name", "stream_name", "chunk_start"]
_TS_RE = r"_(\d{4}-\d{2}-\d{2}T\d{2}-\d{2}-\d{2})\."


def reader_of(spec: gen.StreamSpec) -> Reader:
    return Reader(spec.key, spec.key, spec.ext, spec.kind, spec.columns, "<u2")


def dir_files(path: str) -> int:
    return sum(len(files) for _d, _dirs, files in os.walk(path))


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    n = size = 0
    for d, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, name))
    return n, size


@dataclass
class Store:
    root: str
    tree: gen.Tree
    epochs: Table = None
    chunks: Table = None
    streams: dict[str, Table] = field(default_factory=dict)
    summaries: list[ComputedTable] = field(default_factory=list)
    # what the package returned, summed over the measured ops
    stats: dict[str, int] = field(default_factory=lambda: {
        "files_on_disk": 0, "files_kept": 0, "rows_inserted": 0, "pending_keys": 0,
    })

    def __post_init__(self):
        self.epochs = Table("epochs", pk=["experiment_name", "epoch_start"], root=self.root, tier=Tier.IMPORTED)
        self.chunks = Table("chunks", pk=["file_path"], root=self.root, tier=Tier.IMPORTED)

    def summary_table(self, key: str) -> Table:
        return Table(f"{key}_summary", pk=SUMMARY_PK, root=self.root, tier=Tier.COMPUTED)

    def stored(self) -> tuple[int, int]:
        n = size = 0
        for t in self.streams.values():
            fn, fb = dir_bytes(t.path)
            n, size = n + fn, size + fb
        return n, size


def _summary(spark, path: str, spec: gen.StreamSpec):
    return ingest.stream_summary(
        spark.read.parquet(path), list(spec.columns), keys=["device_name", "stream_name"]
    )


def _computed(store: Store, spec: gen.StreamSpec, path: str) -> ComputedTable:
    table = store.summary_table(spec.key)
    return ComputedTable(
        table=table,
        key_source=lambda s: _summary(s, path, spec).select(*SUMMARY_PK),
        make=lambda s, pend: _summary(s, path, spec).join(pend, SUMMARY_PK, "left_semi"),
    )


def _stream_df(spark, tree: gen.Tree, spec: gen.StreamSpec, start: datetime | None, end: datetime | None):
    df = L.load(spark, [tree.root, tree.dup_root], reader_of(spec), start, end)
    if spec.kind != "harp_csv":
        chunk_ts = F.to_timestamp(F.regexp_extract("chunk_file", _TS_RE, 1), "yyyy-MM-dd'T'HH-mm-ss")
        df = df.withColumn(
            "time",
            F.timestamp_micros(F.unix_micros(chunk_ts) + F.col("sample_idx") * spec.period_us),
        ).drop("chunk_file", "sample_idx")
        # the file-level window pruning keeps a chunk that straddles
        # ``start``; the CSV path trims by time itself, binary does not
        if start is not None:
            df = df.filter(F.col("time") >= F.lit(start))
    return df.select(
        F.lit(gen.EXP).alias("experiment_name"),
        F.lit(spec.device).alias("device_name"),
        F.lit(spec.stream).alias("stream_name"),
        "time",
        *spec.columns,
    )


def _discover_and_insert(spark, store: Store, tr) -> int:
    tree = store.tree
    with tr.span("sources.discover"):
        found = [
            p for spec in tree.streams
            for p, _ts in L.discover_chunk_files([tree.root, tree.dup_root], reader_of(spec))
        ]
    store.stats["files_kept"] += len(found)
    store.stats["files_on_disk"] += sum(dir_files(r) for r in (tree.root, tree.dup_root))
    listing = spark.createDataFrame([(p,) for p in found], "file_path string")
    with tr.span("orchestrator.insert"):
        store.epochs.insert(ingest.epoch_table(listing))
        n = store.chunks.insert(ingest.ingestion_facts(listing))
    store.stats["rows_inserted"] += n
    return n


def _load_and_write(spark, store: Store, tr, start: datetime | None, end: datetime | None) -> None:
    tree = store.tree
    for spec in tree.streams:
        with tr.span("sources.load_build"):
            df = _stream_df(spark, tree, spec, start, end)
        with tr.span("ingest.write_stream_table"):
            store.streams[spec.key] = ingest.write_stream_table(df, store.root, spec.key)


def _populate(spark, store: Store, tr) -> dict[str, int]:
    with tr.span("orchestrator.populate"):
        out = populate_all(spark, store.summaries)
    store.stats["pending_keys"] += sum(out.values())
    return out


def full_ingest(spark, store: Store, tr) -> dict[str, int]:
    """Initial ingest of every chunk in the tree. Returns the per-stream
    count of summary rows populated, plus the chunk rows inserted."""
    n_chunks = _discover_and_insert(spark, store, tr)
    _load_and_write(spark, store, tr, None, None)
    store.summaries = [_computed(store, s, store.streams[s.key].path) for s in store.tree.streams]
    out = _populate(spark, store, tr)
    out["chunks"] = n_chunks
    return out


def incremental_round(spark, store: Store, tr, seed: int, hour_idx: int) -> dict[str, int]:
    """Append hour ``hour_idx`` for every stream, then bring the store up
    to date. The new hour's date partition is reloaded whole, because
    ``write_stream_table`` overwrites every partition it writes."""
    new = gen.write_hour(store.tree, seed, hour_idx)
    hour = gen.T0 + timedelta(hours=hour_idx)
    day = datetime(hour.year, hour.month, hour.day)
    n_chunks = _discover_and_insert(spark, store, tr)
    _load_and_write(spark, store, tr, day, hour + timedelta(hours=1))
    out = _populate(spark, store, tr)
    out["chunks"] = n_chunks
    out["new_files"] = len(new)
    return out


def store_matches_tree(spark, store: Store) -> bool:
    """Output check, run outside the timer: every stream's per-chunk
    ``sample_count`` equals the generated rows of that hour, the epoch and
    chunk tables hold the generated epochs and files, and a repeated
    ``populate_all`` finds nothing left to insert."""
    tree = store.tree
    for spec in tree.streams:
        times, _vals = tree.concat(spec.key)
        hour = (times - gen.us_of(gen.T0)) // gen.HOUR_US
        hours, counts = np.unique(hour, return_counts=True)
        want = {gen.T0 + timedelta(hours=int(h)): int(n) for h, n in zip(hours, counts)}
        rows = spark.read.parquet(store.summary_table(spec.key).path).select("chunk_start", "sample_count").collect()
        if {r[0]: r[1] for r in rows} != want or len(rows) != len(want):
            return False
    if spark.read.parquet(store.epochs.path).count() != len(tree.epochs()):
        return False
    if spark.read.parquet(store.chunks.path).count() != tree.files():
        return False
    return not any(populate_all(spark, store.summaries).values())
