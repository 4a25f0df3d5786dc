"""The ``session_query`` stream: scientist reads over an ingested store,
and two gate queries over generated tables (see bench_gate.py).

``make_stream(seed, cycles, ...)`` draws the query list from the seed alone. Each
query is built (plan construction, including any job the package runs
while building) and then executed by collecting a small result. Its
expected answer is computed with numpy from the generator's arrays, so
every check is exact. A gate query's answer is checked against the
digest recorded in ``gate_digests.json``.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

from aeon_mecha_spark.operators.intervals import asof_join, point_in_interval_join
from aeon_mecha_spark.operators.qc import qc_summary
from aeon_mecha_spark.operators.sessionize import gap_sessionize
from aeon_mecha_spark.operators.windows import rolling_time_sum
from aeon_mecha_spark.pipeline.ingest import fetch_stream
from aeon_mecha_spark.query import Relation

import bench_gate as bg
import gen

# One cycle of the stream: 3 fetch_stream windows, 5 Relation algebra
# queries, 5 operators on a fetched window and 2 gate queries. Every cycle
# holds the same kinds and window lengths (and fetched streams), so the work
# per cycle is fixed; the seed draws the order, the window starts, and the
# device or stream of the Relation queries.
CYCLE = [
    # (kind, layer, window hours, stream; None = drawn by the seed)
    ("fetch", "ingest.fetch_stream", 2, "CameraTop_Video"),
    ("fetch", "ingest.fetch_stream", 3, "Patch1_Encoder"),
    ("fetch", "ingest.fetch_stream", 4, "CameraTop_Video"),
    ("restrict", "query", 1, None),
    ("anti_restrict", "query", 1, None),
    ("join", "query", 1, None),
    ("aggr", "query", 1, None),
    ("top", "query", 1, None),
    ("asof", "operators", 2, None),
    ("interval", "operators", 2, None),
    ("rolling", "operators", 2, None),
    ("sessions", "operators", 2, None),
    ("qc", "operators", 2, None),
    ("gate_lm", "gate", 0, None),
    ("gate_agg", "gate", 0, None),
]
LAYER = {k: layer for k, layer, _h, _s in CYCLE}
STREAMS = ["Patch1_Encoder", "CameraTop_Video"]
# a dropped camera frame leaves a gap of two frame periods
CAMERA_GAP_US = gen.VIDEO.period_us * 3 // 2


@dataclass(frozen=True)
class Query:
    kind: str
    key: str
    start: datetime
    end: datetime
    device: str


def make_stream(seed: int, cycles: int, hours: int, tree: gen.Tree) -> list[Query]:
    """``cycles`` x len(CYCLE) queries; each cycle is a seeded permutation
    of CYCLE with seeded window starts (on a one-minute grid) and streams."""
    rng = random.Random(seed)
    devices = sorted({s.device for s in tree.streams})
    out = []
    for _ in range(cycles):
        for kind, _layer, length, key in rng.sample(CYCLE, len(CYCLE)):
            start = gen.T0 + timedelta(minutes=rng.randint(0, (hours - length) * 60))
            key = key or rng.choice(STREAMS)
            out.append(Query(kind, key, start, start + timedelta(hours=length), rng.choice(devices)))
    return out


def _us(t: datetime) -> int:
    return gen.us_of(t)


def _window(tree: gen.Tree, key: str, q: Query):
    times, vals = tree.concat(key)
    m = (times >= _us(q.start)) & (times < _us(q.end))
    return times[m], {c: v[m] for c, v in vals.items()}


def _chunk_rows(tree: gen.Tree):
    return [
        (spec.device, spec.stream, c.epoch, c.start)
        for spec in tree.streams for c in tree.chunks[spec.key]
    ]


class Runner:
    """Builds, runs and checks one query at a time against a store."""

    def __init__(self, spark, store, gate_dir: str):
        import __spark_entry__ as entry

        self.spark = spark
        self.store = store
        self.tree = store.tree
        self.chunks = Relation(spark.read.parquet(store.chunks.path), pk=["file_path"])
        self.epochs = Relation(spark.read.parquet(store.epochs.path), pk=["experiment_name", "epoch_start"])
        self.last_rows = 0
        self.files_read: list[int] = []
        self.gate_dir = gate_dir
        self.gate_queries = entry.queries()
        self.gate_digests = bg.recorded()

    def fetch(self, key: str, q: Query):
        return fetch_stream(self.spark, self.store.streams[key], q.start, q.end)

    def run(self, q: Query, tr, count_files: bool = False) -> tuple[bool, float]:
        """Build and execute ``q`` under spans ``<layer>.build`` and
        ``<layer>.exec``. Returns whether its answer is right and the
        seconds from the start of the build to the end of the execution."""
        layer = LAYER[q.kind]
        make = self._q_gate if q.kind in bg.GATE else getattr(self, f"_q_{q.kind}")
        build, execute, check = make(q)
        t0 = time.perf_counter()
        with tr.span(f"{layer}.build"):
            plan = build()
        with tr.span(f"{layer}.exec"):
            result = execute(plan)
        elapsed = time.perf_counter() - t0
        if count_files and q.kind == "fetch":
            self.files_read.append(len(plan.inputFiles()))
        return check(result), elapsed

    # -- ingest.fetch_stream ------------------------------------------------

    def _q_fetch(self, q: Query):
        times, vals = _window(self.tree, q.key, q)
        col = next(iter(vals))

        def execute(df):
            pdf = df.select("time", col).toPandas()
            self.last_rows = len(pdf)
            return pdf

        def check(pdf):
            got = pdf["time"].to_numpy().astype("datetime64[us]").astype("int64")
            return (
                len(pdf) == len(times)
                and np.array_equal(got, times)
                and int(pdf[col].sum()) == int(vals[col].sum())
            )

        return (lambda: self.fetch(q.key, q)), execute, check

    # -- query (Relation algebra) -------------------------------------------

    def _count(self, rel):
        return len(rel)

    def _q_restrict(self, q: Query):
        expect = sum(1 for d, _s, _e, st in _chunk_rows(self.tree) if d == q.device and st >= q.start)
        build = lambda: (self.chunks & {"device_name": q.device}) & f"chunk_start >= '{q.start}'"
        return build, self._count, lambda n: n == expect

    def _q_anti_restrict(self, q: Query):
        stream = q.key.split("_", 1)[1]
        expect = sum(1 for _d, s, _e, _st in _chunk_rows(self.tree) if s != stream)
        return (lambda: self.chunks - {"stream_name": stream}), self._count, lambda n: n == expect

    def _q_join(self, q: Query):
        epoch = gen.EPOCH2 if q.start >= gen.EPOCH2 else gen.T0
        expect = sum(1 for _d, _s, e, _st in _chunk_rows(self.tree) if e == epoch)

        def build():
            # epoch_end is NULL for the live epoch, so join on the PK only
            return (self.chunks * self.epochs.proj()) & {"epoch_start": epoch}

        return build, self._count, lambda n: n == expect

    def _q_aggr(self, q: Query):
        per_epoch: dict[datetime, list] = {}
        for _d, _s, e, st in _chunk_rows(self.tree):
            per_epoch.setdefault(e, []).append(st)
        expect = {e: (len(v), max(v)) for e, v in per_epoch.items()}

        def build():
            return self.epochs.proj().aggr(self.chunks, n="count(1)", last="max(chunk_start)")

        def check(rows):
            return {r["epoch_start"]: (r["n"], r["last"]) for r in rows} == expect

        return build, (lambda rel: rel.df.collect()), check

    def _q_top(self, q: Query):
        spec = next(s for s in self.tree.streams if s.key == q.key)
        times, _vals = self.tree.concat(q.key)
        counts = np.bincount((times - _us(gen.T0)) // gen.HOUR_US)
        expect = sorted(counts[counts > 0].tolist(), reverse=True)[:3]

        def build():
            summary = self.spark.read.parquet(self.store.summary_table(spec.key).path)
            return Relation(summary, pk=["device_name", "stream_name", "chunk_start"]).top(3, order_by="sample_count desc")

        def check(rows):
            return [r["sample_count"] for r in rows] == expect

        return build, (lambda rel: rel.df.collect()), check

    # -- operators on a fetched window --------------------------------------

    def _q_asof(self, q: Query):
        # the latest encoder sample at or before each camera frame
        ft, _fv = _window(self.tree, "CameraTop_Video", q)
        et, ev = _window(self.tree, "Patch1_Encoder", q)
        idx = np.searchsorted(et, ft, side="right") - 1
        hit = idx >= 0
        expect = (len(ft), int(hit.sum()), int(ev["angle"][idx[hit]].sum()))

        def build():
            left = self.fetch("CameraTop_Video", q).select("experiment_name", "time", "hw_counter")
            right = self.fetch("Patch1_Encoder", q).select("experiment_name", "time", "angle")
            return asof_join(left, right, ["experiment_name"], "time", "time", ["angle"])

        def execute(df):
            r = df.agg(F.count(F.lit(1)), F.count("angle"), F.sum("angle")).collect()[0]
            return (r[0], r[1], int(r[2] or 0))

        return build, execute, lambda got: got == expect

    def _q_interval(self, q: Query):
        # camera frames into the epoch that covers them (bounds inclusive)
        ft, _fv = _window(self.tree, "CameraTop_Video", q)
        bounds = [(gen.T0, gen.EPOCH2), (gen.EPOCH2, datetime(2100, 1, 1))]
        expect = {s: int(((ft >= _us(s)) & (ft <= _us(e))).sum()) for s, e in bounds}
        expect = {k: v for k, v in expect.items() if v}

        def build():
            points = self.fetch("CameraTop_Video", q).select("time", "hw_counter")
            ivs = self.epochs.df.select(
                "epoch_start", F.coalesce("epoch_end", F.lit(datetime(2100, 1, 1))).alias("epoch_end")
            )
            return point_in_interval_join(points, ivs, "time", "epoch_start", "epoch_end")

        def execute(df):
            return {r[0]: r[1] for r in df.groupBy("epoch_start").count().collect()}

        return build, execute, lambda got: got == expect

    def _q_rolling(self, q: Query):
        key = q.key if q.key.endswith("Encoder") else "Patch1_Encoder"
        t, v = _window(self.tree, key, q)
        cs = np.concatenate([[0], np.cumsum(v["intensity"])])
        lo = np.searchsorted(t, t - 1_000_000, side="left")
        roll = cs[1:] - cs[lo]
        expect = (len(t), int(roll.sum()))

        def build():
            df = self.fetch(key, q)
            return rolling_time_sum(df, F.col("intensity"), "time", ["device_name"], 1_000_000, "roll")

        def execute(df):
            r = df.agg(F.count(F.lit(1)), F.sum("roll")).collect()[0]
            return (r[0], int(r[1] or 0))

        return build, execute, lambda got: got == expect

    def _q_sessions(self, q: Query):
        t, _v = _window(self.tree, "CameraTop_Video", q)
        gap_us = CAMERA_GAP_US
        expect = (len(t), 1 + int((np.diff(t) > gap_us).sum()))

        def build():
            return gap_sessionize(self.fetch("CameraTop_Video", q), "time", ["device_name"], gap_us)

        def execute(df):
            r = df.agg(F.count(F.lit(1)), F.max("session_id")).collect()[0]
            return (r[0], r[1])

        return build, execute, lambda got: got == expect

    def _q_qc(self, q: Query):
        t, v = _window(self.tree, "CameraTop_Video", q)
        c = v["hw_counter"]
        expect = (len(t), int(c[-1] - c[0]) - (len(t) - 1))

        def build():
            return qc_summary(self.fetch("CameraTop_Video", q), ["device_name"])

        def execute(df):
            r = df.collect()[0]
            return (r["sample_count"], r["drop_count"])

        return build, execute, lambda got: got == expect

    # -- gate (``__spark_entry__`` -> datapipe / operators) -----------------

    def _q_gate(self, q: Query):
        """Plan build inside the timer, as in bench.py; the result is small
        and is collected for the digest."""
        name = bg.GATE[q.kind]
        self.spark.catalog.clearCache()

        def build():
            return self.gate_queries[name](self.spark, self.gate_dir)

        def execute(df):
            return df.columns, df.collect()

        return build, execute, lambda res: bg.digest(*res) == self.gate_digests[name]
