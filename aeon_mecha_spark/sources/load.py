"""Chunked raw-stream loading — the Spark re-expression of
``swc.aeon.io.api.load(root, reader, start, end)`` (SURVEY §1.2; usage
/root/reference/aeon/dj_pipeline/acquisition.py:603-622, 735-740).

Reference semantics re-expressed:

1. *File discovery* across priority-ordered roots: glob
   ``<root>/**/<pattern>_<chunk-ts>.<ext>``; when the same chunk file
   exists under several roots, the earliest root wins
   (acquisition.py:174-185 ``get_data_directories`` load_order).
2. *Chunk pruning*: only files whose 1-hour window intersects
   [start, end) are read — here a filename-timestamp filter computed
   driver-side on the listing (the analog of partition pruning; O(#files)
   metadata, no data I/O).
3. *Parse*: CSV chunks via the native Spark CSV scan (splittable, JVM);
   binary chunks via ``mapInPandas`` over the discovered paths, each task
   reading a contiguous run of files and decoding them with numpy, in
   (chunk_file, sample_idx) order by construction.
4. *Exact trim*: a final ``time ∈ [start, end)`` filter — pushed down by
   Catalyst into the scan for CSV.

At 100 TB the same code applies: discovery is a listing job, pruning cuts
the file set by wall-clock window, and a task reads about one scan split
(``spark.sql.files.maxPartitionBytes``): binary chunks in contiguous runs
of files sized by it, CSV chunks through Spark's own file splits.
"""

from __future__ import annotations

import glob as globmod
import os
import re
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aeon_mecha_spark.sources.readers import HARP_EPOCH_OFFSET_S, Reader, decode_binary

_CHUNK_TS_RE = re.compile(r"_(\d{4}-\d{2}-\d{2}T\d{2}-\d{2}-\d{2})\.")


def parse_chunk_ts(path: str) -> datetime | None:
    m = _CHUNK_TS_RE.search(os.path.basename(path))
    if not m:
        return None
    return datetime.strptime(m.group(1), "%Y-%m-%dT%H-%M-%S")


def _dedup_and_prune(
    found: list[tuple[int, str, str]],
    start: datetime | None,
    end: datetime | None,
) -> list[tuple[str, datetime]]:
    """Shared tail of both discovery paths: cross-root dedup (key =
    root-relative path, LOWEST root index wins — the priority-root
    load_order of acquisition.py:174-185), window pruning, and a
    deterministic (ts, rel) output order. ``found`` rows are
    (root_idx, rel_path, abs_path)."""
    best: dict[str, tuple[int, str]] = {}
    for idx, rel, p in found:
        cur = best.get(rel)
        if cur is None or idx < cur[0]:
            best[rel] = (idx, p)
    out = []
    for rel, (_idx, p) in best.items():
        ts = parse_chunk_ts(p)
        if ts is None:
            continue
        if start is not None and ts + timedelta(hours=1) <= start:
            continue
        if end is not None and ts >= end:
            continue
        out.append((p, ts, rel))
    out.sort(key=lambda x: (x[1], x[2]))
    return [(p, ts) for p, ts, _rel in out]


def discover_chunk_files(
    roots: str | list[str],
    reader: Reader,
    start: datetime | None = None,
    end: datetime | None = None,
    spark: SparkSession | None = None,
    distributed_threshold: int = 64,
) -> list[tuple[str, datetime]]:
    """S1 chunk-file discovery with priority-ordered roots and window
    pruning. A chunk file covers [chunk_ts, chunk_ts + 1 h).

    The recursive walk is the part that breaks at scale: a raw-data
    tree holds one epoch directory per session and ~10⁷ chunk files,
    and a driver-side glob serializes every readdir onto one core
    (SCALE.md "known local-vs-cluster deltas", retired round 11). When
    ``spark`` is provided and the tree has more than
    ``distributed_threshold`` first-level directories, the walk runs as
    a Spark job instead — one task per epoch directory, exactly the
    parallel listing Spark's own InMemoryFileIndex performs past its
    parallelPartitionDiscovery threshold. The returned LIST is still
    driver-held either way (it feeds ``spark.read``, which takes paths;
    Spark's file index holds the same O(#files) statuses), so the
    driver cost is one string per file, not one filesystem call per
    directory. Output is identical between the two paths (test-pinned):
    dedup/prune/order live in the shared ``_dedup_and_prune``.
    """
    if isinstance(roots, str):
        roots = [roots]
    pattern = f"*{reader.pattern}*.{reader.extension}"

    # task list: (root_idx, dir, recursive) — files directly under the
    # root plus one recursive task per first-level directory
    tasks: list[tuple[int, str, bool]] = []
    for i, root in enumerate(roots):
        tasks.append((i, root, False))
        try:
            names = sorted(os.listdir(root))
        except OSError:
            continue
        for name in names:
            # glob('**') never matches hidden entries, so the pre-r11
            # driver glob skipped dot-directories (.snapshot, .Trash,
            # .ipynb_checkpoints). An NFS .snapshot mirror holds copies
            # of the same chunks under a different root-relative path,
            # which rel-path dedup cannot collapse — skip them here to
            # keep the distributed walk glob-identical.
            if name.startswith("."):
                continue
            p = os.path.join(root, name)
            if os.path.isdir(p):
                tasks.append((i, p, True))

    def _walk(task: tuple[int, str, bool]) -> list[tuple[int, str, str]]:
        idx, d, rec = task
        root = roots[idx]
        if rec:
            paths = globmod.glob(os.path.join(d, "**", pattern), recursive=True)
        else:
            paths = globmod.glob(os.path.join(d, pattern))
        return [(idx, os.path.relpath(p, root), p) for p in paths]

    if spark is not None and len(tasks) > distributed_threshold:
        sc = spark.sparkContext
        found = (
            sc.parallelize(tasks, len(tasks)).flatMap(_walk).collect()
        )
    else:
        found = [hit for task in tasks for hit in _walk(task)]
    return _dedup_and_prune(found, start, end)


def load(
    spark: SparkSession,
    roots: str | list[str],
    reader: Reader,
    start: datetime | None = None,
    end: datetime | None = None,
) -> DataFrame:
    """``load(root, reader, start, end)`` → DataFrame of the window.

    CSV streams are sorted by time and exact-trimmed to [start, end).
    Binary streams (no time column) come out in (chunk_file, sample_idx)
    order by construction: the files are listed by name and split into
    contiguous runs of about ``spark.sql.files.maxPartitionBytes`` (at most
    ``defaultParallelism`` of them), one per task, and each task reads and
    decodes its files in that order, each in
    sample order, so the plan has no global sort — no Exchange, and no
    range-sampling job that would run the decode a second time. Tasks open their files with
    plain Python I/O, the same POSIX access discovery already relies on.
    Rows of two files that share a name (under different directories)
    stay grouped per file.
    """
    files = discover_chunk_files(roots, reader, start, end, spark=spark)
    if reader.kind != "harp_csv":
        schema = reader.spark_schema + ", chunk_file string"
        if not files:
            return spark.createDataFrame([], schema=schema)
        paths = sorted((p for p, _ in files), key=lambda p: (os.path.basename(p), p))
        # parallelize slices its list contiguously, so any slice count
        # keeps the file order. Like a file scan's splits, a slice holds
        # about ``files.maxPartitionBytes`` of chunks, and there are at most
        # one per core: a many-file history of small chunks stays a few
        # tasks and output files, not one per chunk
        split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        n_bytes = sum(os.path.getsize(p) for p in paths)
        n_slices = max(1, min(len(paths), spark.sparkContext.defaultParallelism, -(-n_bytes // split)))
        path_df = spark.createDataFrame(
            spark.sparkContext.parallelize([(p,) for p in paths], n_slices), "path string"
        )
        rdr = reader

        def decode(batches):
            for pdf in batches:
                for path in pdf["path"]:
                    with open(path, "rb") as f:
                        out = decode_binary(rdr, f.read())
                    out["chunk_file"] = os.path.basename(path)
                    yield out

        return path_df.mapInPandas(decode, schema=schema)

    if not files:
        return spark.createDataFrame([], schema=reader.spark_schema)
    raw_cols = ["aeon_time", *reader.columns]
    schema = ", ".join(f"`{c}` double" for c in raw_cols)
    df = spark.read.csv([p for p, _ in files], schema=schema, header=True)
    df = df.select(
        F.timestamp_micros(
            F.round((F.col("aeon_time") + F.lit(float(HARP_EPOCH_OFFSET_S))) * 1e6, 0).cast("long")
        ).alias("time"),
        *[F.col(c) for c in reader.columns],
    )
    if start is not None:
        df = df.filter(F.col("time") >= F.lit(start))
    if end is not None:
        df = df.filter(F.col("time") < F.lit(end))
    return df.orderBy("time")


def stream_view(
    table: DataFrame,
    experiment: str | None = None,
    device: str | None = None,
    start=None,
    end=None,
    time_col: str = "time",
) -> DataFrame:
    """The ``<aeon_stream>`` codec re-expressed as a view (S15/S16,
    codec.py:18-190): 'decoding' a stored stream reference is just a
    predicate-pushed scan of the stream table — no second query system."""
    df = table
    if experiment is not None:
        df = df.filter(F.col("experiment_name") == experiment)
    if device is not None:
        df = df.filter(F.col("device_name") == device)
    if start is not None:
        df = df.filter(F.col(time_col) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(time_col) < F.lit(end))
    return df
