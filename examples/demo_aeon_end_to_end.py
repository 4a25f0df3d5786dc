"""The full Aeon workflow, end to end, on this engine:

    discover → ingest (epochs/chunks) → populate (3-phase computed
    protocol, incremental) → QC → relational query

Mirrors a day in the life of the reference pipeline
(/root/reference/aeon/dj_pipeline: acquisition epochs/chunks,
streams_maker populate, QC routines, DataJoint queries) — every stage
here is the Spark-first equivalent, using the same synthetic chunked
experiment layout the tests use.

Run:  python examples/demo_aeon_end_to_end.py
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row, functions as F

from aeon_mecha_spark.operators.qc import run_qc
from aeon_mecha_spark.operators.stats import column_stats
from aeon_mecha_spark.pipeline import ingest
from aeon_mecha_spark.pipeline.orchestrator import (
    ComputedTable,
    RunLedger,
    Table,
    Tier,
    populate_all,
)
from aeon_mecha_spark.query import Relation
from aeon_mecha_spark.session import get_spark
from aeon_mecha_spark.sources import load as L
from aeon_mecha_spark.sources.readers import REGISTRY

HARP0 = 2_082_844_800 + 1_704_067_200  # 2024-01-01 in HARP seconds


def build_experiment(root: str) -> str:
    """Two epochs of Patch1/Patch2 Encoder chunks — the reference's
    <experiment>/<epoch>/<device>/<Device>_<stream>_<chunk-ts>.csv
    layout, including an epoch boundary that truncates a chunk."""
    exp = os.path.join(root, "exp01")

    def write_chunks(epoch: str, device: str, hours: list[int]) -> None:
        d = os.path.join(exp, epoch, device)
        os.makedirs(d, exist_ok=True)
        for h in hours:
            lines = ["aeon_time,angle,intensity"]
            for s in range(0, 3600, 30):
                t = HARP0 + h * 3600 + s
                lines.append(f"{t},{float((h * 3600 + s) % 360)},{1.0 + h}")
            name = f"{device}_Encoder_2024-01-01T{h:02d}-00-00.csv"
            with open(os.path.join(d, name), "w") as f:
                f.write("\n".join(lines) + "\n")

    write_chunks("2024-01-01T00-00-00", "Patch1", [0, 1, 2])
    write_chunks("2024-01-01T02-30-00", "Patch1", [2, 3])
    write_chunks("2024-01-01T00-00-00", "Patch2", [0, 1])
    return exp


def main() -> None:
    spark = get_spark("demo_end_to_end", shuffle_partitions=8)
    tmp = tempfile.mkdtemp(prefix="aeon_e2e_")
    exp = build_experiment(tmp)
    store = os.path.join(tmp, "store")
    ledger = RunLedger(store)

    # -- 1. DISCOVER: chunk files + derived epoch/chunk tables ---------------
    rdr = REGISTRY["encoder"]
    found = L.discover_chunk_files(exp, rdr)
    print(f"[discover] {len(found)} chunk files")

    listing = spark.createDataFrame(
        [Row(file_path=p) for p in sorted(glob.glob(os.path.join(exp, "**", "*.csv"), recursive=True))]
    )
    epochs = ingest.epoch_table(listing)
    chunks = ingest.ingestion_facts(listing)
    print("[discover] epochs (lead-backfilled ends; live epoch open):")
    epochs.orderBy("epoch_start").show(truncate=False)

    # -- 2. INGEST: manual tables, idempotent PK-anti-join inserts -----------
    epoch_t = Table("epoch", pk=["experiment_name", "epoch_start"], root=store, tier=Tier.MANUAL)
    chunk_t = Table(
        "chunk", pk=["experiment_name", "device_name", "chunk_ts"], root=store, tier=Tier.MANUAL
    )
    print(f"[ingest] epoch rows inserted: {epoch_t.insert(epochs)}")
    print(f"[ingest] chunk rows inserted: {chunk_t.insert(chunks)}")
    print(f"[ingest] re-insert is a no-op: {chunk_t.insert(chunks)} new rows")

    # -- 3. POPULATE: 3-phase computed protocol (key_source − done → make) ---
    def key_source(sp):
        # the stream binds to one device type — key_source is the chunk
        # table restricted to devices carrying this stream (the
        # reference's Chunk ⋈ device-active-interval join)
        return (
            chunk_t.scan(sp)
            .filter(F.col("device_name") == "Patch1")
            .select("experiment_name", "device_name", "chunk_ts")
        )

    def make(sp, pending):
        raw = L.load(sp, exp, rdr)
        stream = raw.select(
            F.lit("exp01").alias("experiment_name"),
            F.lit("Patch1").alias("device_name"),
            F.lit("Encoder").alias("stream_name"),
            "time", "angle", "intensity",
        )
        summary = ingest.stream_summary(stream, ["angle", "intensity"])
        return (
            summary.withColumnRenamed("chunk_start", "chunk_ts")
            .join(F.broadcast(pending), ["experiment_name", "device_name", "chunk_ts"])
        )

    summary_t = Table(
        "encoder_chunk_summary",
        pk=["experiment_name", "device_name", "chunk_ts"],
        root=store,
        tier=Tier.COMPUTED,
    )
    ct = ComputedTable(summary_t, key_source, make)
    n1 = populate_all(spark, [ct], ledger)
    n2 = populate_all(spark, [ct], ledger)  # incremental: nothing pending
    print(f"[populate] first sweep inserted {n1}, second sweep {n2} (incremental no-op)")
    for e in ledger.entries():
        print(f"[ledger] {e['table']}: pending={e['n_pending']} inserted={e['n_inserted']} status={e['status']}")

    # -- 4. QC: registry-dispatched camera-frame QC (reference CameraQC) -----
    # synthesize the per-frame stream a video device produces: hw_counter
    # skips two frames mid-chunk, which QC must surface as drop_count
    frames = spark.range(0, 600).select(
        F.lit("CameraTop").alias("device_name"),
        F.timestamp_micros(
            F.lit((HARP0 - 2_082_844_800) * 1_000_000).cast("long") + F.col("id") * 50_000
        ).alias("time"),
        (F.col("id") + F.when(F.col("id") >= 300, 2).otherwise(0)).alias("hw_counter"),
        (F.col("id") * 50_000_000).alias("hw_timestamp"),
    )
    qc = run_qc("camera_frame_qc", frames, ["device_name"])
    print("[qc] per-device frame QC (drop_count picks up the skipped frames):")
    qc.show(truncate=False)

    raw = L.load(spark, exp, rdr).select(
        F.lit("Patch1").alias("device_name"), "time", "angle", "intensity"
    )

    # -- 5. QUERY: relational algebra over the populated store ---------------
    summaries = Relation(
        summary_t.scan(spark),
        pk=["experiment_name", "device_name", "chunk_ts"],
    )
    busy = summaries & "sample_count >= 100"
    print("[query] per-chunk summaries with full sample counts:")
    busy.proj("chunk_ts", "sample_count", "angle_mean", "intensity_mean").top(
        5, order_by="chunk_ts"
    ).df.show(truncate=False)

    print("[query] whole-stream column stats (4-dp means, reference parity):")
    column_stats(raw, ["angle", "intensity"], group_keys=["device_name"]).show(truncate=False)

    spark.stop()
    print("end-to-end demo complete")


if __name__ == "__main__":
    main()
