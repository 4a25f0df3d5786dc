"""Raw-stream load(), pipeline orchestrator, and multimodal plumbing.

Fixture layout mirrors the reference's chunked file store:
``root/<epoch>/<device>/<Device>_<stream>_<chunk-ts>.<ext>``
(FIXTURES.md §1-2, understanding_aeon_data_architecture.ipynb cell 3).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import os
import time

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aeon_mecha_spark.pipeline.orchestrator import ComputedTable, RunLedger, Table, Tier
from aeon_mecha_spark.sources import load as L
from aeon_mecha_spark.sources.readers import REGISTRY, Reader

HARP0 = 2_082_844_800 + 1_704_067_200  # 2024-01-01 in HARP seconds


@pytest.fixture(scope="module")
def stream_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("chunks")
    dev = root / "2024-01-01T00-00-00" / "Patch1"
    dev.mkdir(parents=True)
    # two hourly Encoder CSV chunks, 1 Hz ramps
    for h in range(2):
        lines = ["aeon_time,angle,intensity"]
        for s in range(0, 3600, 60):
            t = HARP0 + h * 3600 + s
            lines.append(f"{t},{float(s % 360)},{1.0}")
        (dev / f"Patch1_Encoder_2024-01-01T{h:02d}-00-00.csv").write_text("\n".join(lines) + "\n")
    # one clock binary + one amplifier binary chunk
    edev = root / "2024-01-01T00-00-00" / "ProbeA"
    edev.mkdir(parents=True)
    clock = np.arange(1000, 1000 + 10 * 100, 100, dtype="<u8")
    clock.tofile(edev / "ProbeA_Clock_2024-01-01T00-00-00.bin")
    amp = np.arange(40, dtype="<u2")
    amp.tofile(edev / "ProbeA_AmplifierData_2024-01-01T00-00-00.bin")
    return str(root)


def test_discover_prunes_by_window(stream_root):
    rdr = REGISTRY["encoder"]
    files = L.discover_chunk_files(stream_root, rdr)
    assert len(files) == 2
    pruned = L.discover_chunk_files(
        stream_root, rdr, start=dt.datetime(2024, 1, 1, 1), end=dt.datetime(2024, 1, 1, 2)
    )
    assert len(pruned) == 1 and pruned[0][1].hour == 1


def test_priority_roots_first_wins(stream_root, tmp_path):
    rdr = REGISTRY["encoder"]
    files = L.discover_chunk_files([str(tmp_path), stream_root], rdr)
    assert len(files) == 2  # missing-from-first root falls through


def test_load_csv_exact_trim_and_time_decode(spark, stream_root):
    rdr = REGISTRY["encoder"]
    df = L.load(
        spark, stream_root, rdr,
        start=dt.datetime(2024, 1, 1, 0, 30), end=dt.datetime(2024, 1, 1, 1, 30),
    )
    rows = df.collect()
    assert len(rows) == 60  # half of each chunk
    assert min(r.time for r in rows) >= dt.datetime(2024, 1, 1, 0, 30)
    assert max(r.time for r in rows) < dt.datetime(2024, 1, 1, 1, 30)
    assert rows[0].angle is not None


def test_load_binary_clock_roundtrip(spark, stream_root):
    df = L.load(spark, stream_root, REGISTRY["onix_clock"])
    rows = df.collect()
    assert len(rows) == 10
    assert rows[0].clock == 1000 and rows[-1].clock == 1900


def test_load_binary_amplifier_shape(spark, stream_root):
    df = L.load(spark, stream_root, REGISTRY["amplifier"])
    rows = df.collect()
    assert len(rows) == 10  # 40 uint16 / 4 channels
    assert [rows[0].ch0, rows[0].ch1, rows[0].ch2, rows[0].ch3] == [0, 1, 2, 3]


def test_load_binary_orders_by_construction_without_exchange(spark, tmp_path):
    # more files than cores, and file names whose order differs from the
    # discovery order (time first): ProbeB's 00:00 chunk is listed before
    # ProbeA's 01:00 chunk but sorts after every ProbeA file by name
    n_files = spark.sparkContext.defaultParallelism + 3
    want = []
    for i in range(n_files):
        probe = "AB"[i % 2]
        d = tmp_path / "2024-01-01T00-00-00" / f"Probe{probe}"
        d.mkdir(parents=True, exist_ok=True)
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)
        name = f"Probe{probe}_AmplifierData_{ts:%Y-%m-%dT%H-%M-%S}.bin"
        n_samples = 3 + i
        np.arange(100 * i, 100 * i + 4 * n_samples, dtype="<u2").tofile(d / name)
        want += [(name, s, 100 * i + 4 * s) for s in range(n_samples)]
    # splits of about 1/6 of the bytes: several tasks, several files each
    n_bytes = sum(f.stat().st_size for f in tmp_path.rglob("*.bin"))
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n_bytes // 6))
    try:
        df = L.load(spark, str(tmp_path), REGISTRY["amplifier"])
        assert 1 < df.rdd.getNumPartitions() < n_files
        got = [(r.chunk_file, r.sample_idx, r.ch0) for r in df.collect()]
    finally:
        spark.conf.set(key, prev)
    assert got == sorted(want)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_stream_view_is_predicate_pushed(spark, stream_root):
    rdr = REGISTRY["encoder"]
    table = L.load(spark, stream_root, rdr)
    v = L.stream_view(table, start=dt.datetime(2024, 1, 1, 1), end=dt.datetime(2024, 1, 1, 2))
    assert v.count() == 60


# -- orchestrator -----------------------------------------------------------


def test_populate_is_incremental_and_idempotent(spark, tmp_path):
    root = str(tmp_path / "wh")
    src_rows = [Row(k=i, v=float(i)) for i in range(10)]
    src = spark.createDataFrame(src_rows)
    src.createOrReplaceTempView("src10")

    out = Table("doubled", pk=["k"], root=root, tier=Tier.COMPUTED)
    ct = ComputedTable(
        table=out,
        key_source=lambda s: s.table("src10").select("k"),
        make=lambda s, pend: s.table("src10").join(pend, "k", "left_semi").select(
            "k", (F.col("v") * 2).alias("v2")
        ),
    )
    ledger = RunLedger(root)
    assert ct.populate(spark, ledger) == 10
    assert ct.populate(spark, ledger) == 0  # nothing pending
    # upstream grows → only the delta is computed
    spark.createDataFrame([Row(k=i, v=float(i)) for i in range(12)]).createOrReplaceTempView("src10")
    assert ct.populate(spark, ledger) == 2
    stored = out.read(spark)
    assert stored.count() == 12
    assert stored.filter("v2 <> k * 2").count() == 0
    statuses = [e["status"] for e in ledger.entries()]
    assert statuses == ["ok", "noop", "ok"]


def test_insert_skip_duplicates(spark, tmp_path):
    t = Table("t1", pk=["k"], root=str(tmp_path))
    df = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    assert t.insert(df) == 2
    assert t.insert(df) == 0
    df2 = spark.createDataFrame([Row(k=2, v="b"), Row(k=3, v="c")])
    assert t.insert(df2) == 1


def test_populate_inserts_no_rows_for_keys_outside_pending(spark, tmp_path):
    root = str(tmp_path / "wh")
    out = Table("leaky", pk=["k"], root=root, tier=Tier.COMPUTED)
    out.insert(spark.createDataFrame([Row(k=0, v2=-1.0)]))
    src = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(5)])
    # make ignores its pending keys: it re-emits the stored key 0 and an
    # unknown key 99 beside the four pending ones
    ct = ComputedTable(
        table=out,
        key_source=lambda s: src.select("k"),
        make=lambda s, pend: src.select("k", (F.col("v") * 2).alias("v2")).unionByName(
            s.createDataFrame([Row(k=99, v2=0.0)])
        ),
    )
    ledger = RunLedger(root)
    assert ct.populate(spark, ledger) == 4
    assert {r.k: r.v2 for r in out.read(spark).collect()} == {0: -1.0, 1: 2.0, 2: 4.0, 3: 6.0, 4: 8.0}
    assert ct.populate(spark, ledger) == 0
    assert [(e["n_pending"], e["n_inserted"], e["status"]) for e in ledger.entries()] == [
        (4, 4, "ok"), (0, 0, "noop"),
    ]


def test_noop_populate_never_builds_make(spark, tmp_path):
    root = str(tmp_path / "wh")
    out = Table("guarded", pk=["k"], root=root, tier=Tier.COMPUTED)
    src = spark.createDataFrame([Row(k=i) for i in range(3)])
    calls = []

    def make(s, pend):
        calls.append(1)
        return pend.withColumn("v", F.lit(1.0))

    ct = ComputedTable(table=out, key_source=lambda s: src, make=make)
    ledger = RunLedger(root)
    assert ct.populate(spark, ledger) == 3
    assert ct.populate(spark, ledger) == 0
    assert len(calls) == 1
    # a make that drops every pending key is logged ok, not noop
    dropping = ComputedTable(
        table=Table("dropped", pk=["k"], root=root, tier=Tier.COMPUTED),
        key_source=lambda s: src,
        make=lambda s, pend: pend.withColumn("v", F.lit(1.0)).filter("k < 0"),
    )
    assert dropping.populate(spark, ledger) == 0
    assert [(e["table"], e["n_inserted"], e["status"]) for e in ledger.entries()] == [
        ("guarded", 3, "ok"), ("guarded", 0, "noop"), ("dropped", 0, "ok"),
    ]


def test_insert_skips_keys_stored_more_than_once(spark, tmp_path):
    t = Table("dup_pk", pk=["k"], root=str(tmp_path))
    dup = spark.createDataFrame([Row(k=1, v="a"), Row(k=1, v="b")])
    assert t.insert(dup, skip_duplicates=False) == 2
    assert t.insert(spark.createDataFrame([Row(k=1, v="c"), Row(k=2, v="d")])) == 1
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == [(1, "a"), (1, "b"), (2, "d")]


def test_delete_restriction_rewrites(spark, tmp_path):
    t = Table("t2", pk=["k"], root=str(tmp_path))
    t.insert(spark.createDataFrame([Row(k=i, v=i % 2) for i in range(6)]))
    kept = t.delete_restriction(spark, "v = 1")
    assert kept == 3
    assert t.read(spark).count() == 3


# -- multimodal -------------------------------------------------------------


def test_multimodal_fake_features_and_plans(spark):
    from aeon_mecha_spark.datapipe import multimodal as MM

    rows = [
        Row(media_id=1, modality="image", width=640, height=480, duration_ms=0, payload=b"imgbytes1"),
        Row(media_id=2, modality="video", width=1280, height=720, duration_ms=3500, payload=b"vidbytes"),
    ]
    media = spark.createDataFrame(rows, schema=MM.MEDIA_SCHEMA)
    feats = MM.extract_features(media, dim=8, fake=True).collect()
    assert {r.media_id: len(r.feature) for r in feats} == {1: 8, 2: 8}
    # deterministic across runs
    again = MM.extract_features(media, dim=8, fake=True).collect()
    assert [r.feature for r in sorted(feats, key=lambda r: r.media_id)] == [
        r.feature for r in sorted(again, key=lambda r: r.media_id)
    ]
    frames = MM.frame_sample_plan(media, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000, 3000]
    rz = MM.resize_plan(media, max_side=320).collect()[0]
    assert (rz.target_width, rz.target_height) == (320, 240)


def test_multimodal_non_image_decode_is_stubbed(spark):
    """Image features are REAL as of round 10 (vendored PNG/JPEG
    codecs); undecodable payloads and audio/video modalities still
    raise the documented env-blocked error on the fake=False path."""
    from aeon_mecha_spark.datapipe import multimodal as MM

    media = spark.createDataFrame(
        [Row(media_id=1, modality="image", width=1, height=1, duration_ms=0, payload=b"x")],
        schema=MM.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        MM.extract_features(media, fake=False).collect()
    audio = spark.createDataFrame(
        [Row(media_id=2, modality="audio", width=0, height=0, duration_ms=10, payload=b"RIFF")],
        schema=MM.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception):
        MM.extract_features(audio, fake=False).collect()
    # a failed job returns before its killed tasks stop; wait for them
    # (bounded), or the next test's task can get a Python worker whose
    # channel they cancel (CancelledKeyException). A failed stage leaves
    # the active list while its killed tasks still run, so the executors'
    # running-task counts are watched too
    sc = spark.sparkContext

    def busy():
        executors = sc._jsc.sc().statusTracker().getExecutorInfos()
        return sc.statusTracker().getActiveStageIds() or any(e.numRunningTasks() for e in executors)

    deadline = time.monotonic() + 30
    while busy() and time.monotonic() < deadline:
        time.sleep(0.1)


def test_multimodal_image_features_are_real(spark):
    """fake=False now produces REAL gray-histogram descriptors for
    PNG and JPEG payloads — matching a local numpy mirror exactly for
    the lossless PNG."""
    import numpy as np

    from aeon_mecha_spark.datapipe import multimodal as MM

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [
            Row(
                media_id=1, modality="image", width=9, height=12,
                duration_ms=0, payload=bytearray(MM.encode_png(img)),
            )
        ],
        schema=MM.MEDIA_SCHEMA,
    )
    row = MM.extract_features(media, dim=16, fake=False).collect()[0]
    expect = MM._image_feature(img, 16)
    assert row["modality"] == "image"
    np.testing.assert_allclose(np.array(row["feature"]), expect, rtol=1e-6)
