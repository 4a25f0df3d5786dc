"""A ``Table`` carries its schema: reads of tables the package wrote pass
it to the Parquet reader instead of inferring it, which would run a
one-task footer-reading job. The carried read must be column for column
what an inferring read gives."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from aeon_mecha_spark.pipeline import ingest
from aeon_mecha_spark.pipeline.orchestrator import Table


def _assert_same_read(spark, count_jobs, table):
    inferred = spark.read.parquet(table.path)
    carried, n_jobs = count_jobs(lambda: table.scan(spark))
    assert n_jobs == 0
    assert carried.schema == inferred.schema  # names, order, types, nullability
    key = [F.col(c) for c in inferred.columns]
    assert carried.orderBy(*key).collect() == inferred.orderBy(*key).collect()


def _stream(spark):
    return spark.createDataFrame(
        [(dt.datetime(2024, 1, d, h), float(d * 10 + h), [h, d]) for d in (1, 2, 3) for h in range(4)],
        "time timestamp, v double, tags array<int>",
    )


def test_stream_table_carried_read_equals_inferred(spark, count_jobs, tmp_path):
    t = ingest.write_stream_table(_stream(spark), str(tmp_path), "s")
    _assert_same_read(spark, count_jobs, t)
    assert spark.read.parquet(t.path).columns[-1] == "chunk_date"


def test_inserted_and_upserted_table_carried_read_equals_inferred(spark, count_jobs, tmp_path):
    # `dev` holds digit strings, which partition discovery types as int:
    # the carried read must still type it as an inferring read does
    df = spark.createDataFrame(
        [(str(i % 3), i * 1.5, i, dt.date(2024, 1, 1 + i % 2)) for i in range(8)],
        "dev string, x double, id long, day date",
    )
    t = Table("t", pk=["id"], root=str(tmp_path), partition_by=["dev"])
    t.insert(df.filter("id < 5"))
    t.insert(df)  # anti-join read of the stored keys, then an append
    # the append keeps the first write's column order (the anti-join
    # would move the key first), so the record survives it
    _assert_same_read(spark, count_jobs, t)
    assert t.scan(spark).columns == ["x", "id", "day", "dev"]
    assert t.read(spark).count() == 8
    t.upsert(df.filter("id < 3").withColumn("x", F.lit(-1.0)))
    _assert_same_read(spark, count_jobs, t)
    assert t.scan(spark).columns == ["x", "id", "day", "dev"]
    t.delete_restriction(spark, "id = 7")
    _assert_same_read(spark, count_jobs, t)
    assert t.read(spark).count() == 7


def test_fetch_stream_build_fires_no_job(spark, count_jobs, tmp_path):
    t = ingest.write_stream_table(_stream(spark), str(tmp_path), "s")
    out, n_jobs = count_jobs(
        lambda: ingest.fetch_stream(spark, t, dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3))
    )
    assert n_jobs == 0
    assert [r.v for r in out.collect()] == [20.0, 21.0, 22.0, 23.0]


def test_fresh_table_infers_schema_once(spark, count_jobs, tmp_path):
    written = ingest.write_stream_table(_stream(spark), str(tmp_path), "s")
    fresh = Table(written.name, written.pk, written.root, partition_by=["chunk_date"])
    first, n_first = count_jobs(lambda: fresh.scan(spark))
    second, n_second = count_jobs(lambda: fresh.scan(spark))
    assert (n_first, n_second) == (1, 0)
    assert first.schema == second.schema == spark.read.parquet(written.path).schema


def test_append_with_other_columns_drops_the_record(spark, count_jobs, tmp_path):
    t = Table("t", pk=["id"], root=str(tmp_path))
    t.insert(spark.createDataFrame([(1, 1.0)], "id long, x double"))
    t.insert(spark.createDataFrame([(2, 2.0, "b")], "id long, x double, y string"), skip_duplicates=False)
    # the files now disagree, so the next read infers, as it did before
    _, n_jobs = count_jobs(lambda: t.scan(spark))
    assert n_jobs == 1
