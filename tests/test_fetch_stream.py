"""``fetch_stream`` sizes its sort by the window it reads: partitions that
fit one scan split are read and sorted in one task (no range-sampling
job, one output partition), a larger window keeps the parallel range
sort. Both paths must give the rows, columns and order of a plain
``orderBy`` read."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from aeon_mecha_spark.pipeline import ingest

_SPLIT = "spark.sql.files.maxPartitionBytes"
START, END = dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 1, 3, 6)


def _table(spark, tmp_path):
    """A stream table over 3 days, 48 samples a day; its rows arrive out
    of time order, so only the sort puts them in order."""
    rows = [
        (dt.datetime(2024, 1, d, h, m), float(d * 10_000 + h * 100 + m), f"s{h % 3}")
        for d in (1, 2, 3)
        for h in range(24)
        for m in (0, 30)
    ]
    df = spark.createDataFrame(rows[::-1], "time timestamp, v double, tag string")
    return ingest.write_stream_table(df.repartition(3), str(tmp_path), "s")


def _reference(spark, t, start, end):
    df = spark.read.parquet(t.path)
    return df.filter((F.col("time") >= start) & (F.col("time") < end)).orderBy("time")


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path``, counted as Spark counts
    them (hidden and checksum files left out)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def test_small_window_is_one_sorted_partition(spark, tmp_path):
    t = _table(spark, tmp_path)
    out = ingest.fetch_stream(spark, t, START, END)
    ref = _reference(spark, t, START, END)
    assert out.columns == ref.columns == ["time", "v", "tag", "chunk_date"]
    rows = out.collect()
    assert rows == ref.collect()
    assert len(rows) == 84 and [r.time for r in rows] == sorted(r.time for r in rows)
    plan = _executed(out)
    assert "Exchange" not in plan and "Coalesce 1" in plan


def test_large_window_keeps_the_range_sort(spark, tmp_path):
    t = _table(spark, tmp_path)
    small = ingest.fetch_stream(spark, t, START, END).collect()
    # the window spans all 3 days
    window = _dir_bytes(t.path)
    old = spark.conf.get(_SPLIT)
    spark.conf.set(_SPLIT, str(window - 1))
    try:
        out = ingest.fetch_stream(spark, t, START, END)
        rows = out.collect()
        plan = _executed(out)
    finally:
        spark.conf.set(_SPLIT, old)
    assert rows == small == _reference(spark, t, START, END).collect()
    assert "rangepartitioning" in plan


def test_window_bytes_count_only_selected_dates(spark, tmp_path):
    t = _table(spark, tmp_path)
    day = {d: _dir_bytes(os.path.join(t.path, f"chunk_date=2024-01-0{d}")) for d in (1, 2, 3)}
    assert all(day.values())

    def window(start, end):
        return ingest._scan_bytes(ingest.fetch_stream(spark, t, start, end))

    # an exclusive midnight end leaves the next day's partition out
    assert window(dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3)) == day[2]
    assert window(dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3, 0, 0, 1)) == day[2] + day[3]
    # an open bound takes every partition on its side
    assert window(dt.datetime(2024, 1, 2, 23), None) == day[2] + day[3]
    assert window(None, dt.datetime(2024, 1, 2)) == day[1]
    assert window(None, None) == sum(day.values())
    # a path string is sized as a Table is
    assert ingest._scan_bytes(ingest.fetch_stream(spark, t.path, START, END)) == sum(day.values())


def test_small_window_runs_one_job(spark, count_jobs, tmp_path):
    t = _table(spark, tmp_path)
    rows, n_jobs = count_jobs(lambda: ingest.fetch_stream(spark, t, START, END).collect())
    assert n_jobs == 1
    assert len(rows) == 84
