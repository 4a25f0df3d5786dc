"""Seeded, layer-attributed benchmark of aeon_mecha_spark.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads:

- ``ingest``: a seeded raw tree (CSV and binary streams, two epochs, a
  lower-priority duplicate root) goes through discovery, the epoch and
  chunk inserts, ``load`` + ``write_stream_table`` per stream and the
  summary ``populate``; then incremental rounds each append one hour and
  bring the store up to date.
- ``session_query``: a seeded closed-loop stream of reads (``fetch_stream``
  windows, ``Relation`` algebra, window and interval operators) over a
  store that the set-up ingests, and two gate queries
  (``__spark_entry__.queries()``) over tables the set-up generates.

One client, Spark ``local[N]`` with N = nproc. Everything the run reads or
writes lives under ``.bench_work/`` in the checkout; traces of the
``--trace 1`` run go to ``.bench_out/``. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

INGEST_HOURS = range(2, 4)  # 23:00 .. 00:59: across the 23:30 epoch start and midnight
# ingest runs one incremental round, plus one per 5 s of --seconds: one
# round swings by a third from run to run, the mean of two far less
ROUND_SECONDS = 5
QUERY_HOURS = range(0, 4)  # 21:00 .. 00:59
QUERY_CYCLES = 400
REF_JOBS = 5  # ingest: reference jobs before the full ingest, each round, and after
# the reference job runs 0.3-0.5 s cold and under 0.1 s warm: warm it in set-up
REF_WARMUP = 20
REF_WINDOW_S = 5  # an op is measured against the reference jobs run this close to it


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "session_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def prepare_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the work directory.
    Must run before pyspark starts the JVM."""
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # session.py defaults to local[32]; one thread per core of this machine
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a 2 GB heap made round times swing with GC; 4 GB keeps them steady
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_tree() -> set[int]:
    """This process, the JVM its gateway launched, and every process under
    the JVM (the Python workers)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return {os.getpid()}
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {proc.pid}, [proc.pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree | {os.getpid()}


def peak_rss_mb() -> float:
    """Peak RSS of this process plus the JVM and every process under it."""
    total_kb = 0
    for pid in jvm_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def ref_job_s(spark) -> float:
    """Seconds of one fixed Spark job that touches no package code: four
    tasks and a one-row collect. Its time follows the host's speed and the
    scheduler's latency, the two things that set a short op's time here."""
    t0 = time.perf_counter()
    spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], p: int) -> float | None:
    """The p-th percentile of ``xs``, or None when fewer than 10 samples
    lie beyond it: a tail percentile needs a tail to stand on."""
    if len(xs) * (100 - p) < 10 * 100:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        import spans

        self.args = args
        self.work = work
        self.tr = spans.Tracer(bool(args.trace))
        self.quiet = spans.Tracer(False)
        self.spark = None
        self.tree = None
        self.store = None
        self.stats: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.ref: list[tuple[float, float]] = []  # (end time, seconds)
        # timed ops as (seconds, start, end): every op, the ops whose latency
        # is reported, and the ops whose rows are counted
        self.all_ops: list[tuple[float, float, float]] = []
        self.lat_ops: list[tuple[float, float, float]] = []
        self.row_ops: list[tuple[float, float, float]] = []
        self.rows = 0

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        """Everything from process start to the first timed op: imports,
        the session, warm-up jobs and the workload's inputs (for
        ``session_query`` the store build and the gate tables)."""
        from aeon_mecha_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=spark_conf(self.work, bool(self.args.trace)))
        self.get_spark_s = time.perf_counter() - t0
        getattr(self, f"setup_{self.args.workload}")()
        for _ in range(REF_WARMUP):
            ref_job_s(self.spark)
        self.setup_s = time.perf_counter() - T_START
        self.tr.bind(self.spark)

    def make_tree(self, hours: range, streams) -> None:
        import gen

        self.tree = gen.make_tree(os.path.join(self.work, "data"), self.args.seed, hours, streams)
        print(f"tree sha256 {gen.tree_hash(self.tree)}")
        for key in self.tree.chunks:
            print(
                f"stream {key}: {self.tree.rows(key)} rows, "
                f"{self.tree.raw_bytes(key)} bytes, {self.tree.files(key)} files"
            )

    def setup_ingest(self) -> None:
        import gen

        # warm-up: a JVM job, and the Python worker daemon that decode uses
        self.spark.range(0, 100_000, 1, 8).selectExpr("sum(id)").collect()
        self.spark.range(0, 8, 1, 4).mapInPandas(lambda it: it, "id long").collect()
        self.make_tree(INGEST_HOURS, gen.INGEST_STREAMS)

    def setup_session_query(self) -> None:
        import bench_gate as bg
        import bench_ingest as bi
        import gen

        self.gate_dir = os.path.join(self.work, "gate")
        sizes = bg.write_tables(self.gate_dir)
        print("gate tables: " + ", ".join(f"{k} {v} rows" for k, v in sizes.items()))
        self.make_tree(QUERY_HOURS, gen.QUERY_STREAMS)
        self.store = bi.Store(os.path.join(self.work, "store"), self.tree)
        self.check(self.full_ok(bi.full_ingest(self.spark, self.store, self.quiet), self.store))

    # -- checks ---------------------------------------------------------------

    def check(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.correct = False

    def full_ok(self, res: dict[str, int], store) -> bool:
        hours = len(store.tree.hours())
        return res["chunks"] == store.tree.files() and all(
            res[store.summary_table(k).name] == hours for k in store.tree.chunks
        )

    # -- measured phase -------------------------------------------------------

    def sample_ref(self, n: int) -> None:
        for _ in range(n):
            seconds = ref_job_s(self.spark)
            self.ref.append((time.perf_counter(), seconds))

    @staticmethod
    def timed_since(t0: float) -> tuple[float, float, float]:
        t1 = time.perf_counter()
        return t1 - t0, t0, t1

    def run_ingest(self, seconds: float) -> None:
        """One full ingest (``rows_per_ref``), then a fixed number of
        incremental rounds (``op_gmean_ref``). Round r appends 00:00 on day
        3 + r, so every round reloads a date partition holding one hour
        and costs the same."""
        import bench_ingest as bi

        store = bi.Store(os.path.join(self.work, "store"), self.tree)
        self.stats = store.stats
        self.sample_ref(REF_JOBS)
        self.tr.op = "m0.full"
        t0 = time.perf_counter()
        res = bi.full_ingest(self.spark, store, self.tr)
        full = self.timed_since(t0)
        self.all_ops.append(full)
        self.row_ops.append(full)
        self.tr.collect_spark_counts()
        self.check(self.full_ok(res, store))
        self.rows = sum(self.tree.rows(k) for k in self.tree.chunks)
        self.store = store
        for r in range(1 + int(seconds // ROUND_SECONDS)):
            self.sample_ref(REF_JOBS)
            self.tr.op = f"m{r + 1}.round"
            t0 = time.perf_counter()
            res = bi.incremental_round(self.spark, store, self.tr, self.args.seed, 27 + 24 * r)
            rnd = self.timed_since(t0)
            self.all_ops.append(rnd)
            self.lat_ops.append(rnd)
            self.tr.collect_spark_counts()
            self.check(
                res["chunks"] == res["new_files"]
                and all(res[store.summary_table(k).name] == 1 for k in self.tree.chunks)
            )
        self.sample_ref(REF_JOBS)
        self.check(bi.store_matches_tree(self.spark, store))

    def run_session_query(self, seconds: float) -> None:
        """One untimed warm-up cycle (JIT and plan caches), then whole
        query cycles for ``seconds``, at least one: a slow host must not
        leave a run with fewer samples than a fast one. A reference job
        runs before each query; those of the timed cycles are kept."""
        import bench_queries as bq

        self.runner = bq.Runner(self.spark, self.store, self.gate_dir)
        queries = bq.make_stream(self.args.seed, QUERY_CYCLES, len(QUERY_HOURS), self.tree)
        cycle = len(bq.CYCLE)
        deadline = None
        i = 0
        while deadline is None or time.perf_counter() < deadline or i % cycle or i < 2 * cycle:
            if i == cycle:
                deadline = time.perf_counter() + seconds
            q = queries[i % len(queries)]
            self.tr.op = f"m{i}.{q.kind}"
            ref = ref_job_s(self.spark)
            if deadline is not None:
                self.ref.append((time.perf_counter(), ref))
            try:
                ok, dt = self.runner.run(q, self.tr, count_files=bool(self.args.trace))
            except Exception as e:  # an op that raises counts as failed
                print(f"query {i} ({q.kind}) raised: {e!r}", file=sys.stderr)
                ok, dt = False, None
            t1 = time.perf_counter()
            self.tr.collect_spark_counts()
            self.check(ok)
            if dt is not None and deadline is not None:
                op = (dt, t1 - dt, t1)
                self.all_ops.append(op)
                self.lat_ops.append(op)
                if q.kind == "fetch":
                    self.rows += self.runner.last_rows
                    self.row_ops.append(op)
            i += 1

    # -- metrics --------------------------------------------------------------

    def in_ref_jobs(self, op: tuple[float, float, float]) -> float:
        """An op's seconds over the median reference job run within
        REF_WINDOW_S of it: the host's speed at the time of that op."""
        seconds, start, end = op
        near = [s for t, s in self.ref if start - REF_WINDOW_S <= t <= end + REF_WINDOW_S]
        return seconds / median(near or [s for _t, s in self.ref])

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """Op times in reference jobs (see ``ref_job_s``): the host's speed
        swings twofold within minutes, and the ratio cancels it. Latency is
        a geometric mean: the median of one cycle's 15 queries of 13 kinds
        falls in a gap between two kinds' times and jumps with it."""
        secs = [op[0] for op in self.lat_ops]
        print(
            f"seconds: op p50 {median(secs):.4f} s, gmean {statistics.geometric_mean(secs):.4f} s, "
            f"{len(self.all_ops) / sum(op[0] for op in self.all_ops):.4f} ops/s, "
            f"{self.rows / sum(op[0] for op in self.row_ops):.1f} rows/s, "
            f"reference job median {median([s for _t, s in self.ref]):.4f} s of {len(self.ref)}"
        )
        return {
            "setup_s": (self.setup_s, "s"),
            "op_gmean_ref": (statistics.geometric_mean([self.in_ref_jobs(op) for op in self.lat_ops]), "ref_job"),
            "ops_per_ref": (len(self.all_ops) / sum(map(self.in_ref_jobs, self.all_ops)), "1/ref_job"),
            "rows_per_ref": (self.rows / sum(map(self.in_ref_jobs, self.row_ops)), "rows/ref_job"),
        }

    def per_layer(self, n_ops: int) -> dict[str, tuple[float, str]]:
        import spans

        d = self.tr.durations()
        st = self.stats

        def mean_s(name: str) -> float:
            return statistics.fmean(d[name]) if d.get(name) else 0.0

        def jobs_per_call(name: str) -> float:
            return self.tr.counts[name]["jobs"] / len(d[name]) if d.get(name) else 0.0

        tot = {k: sum(c[k] for c in self.tr.counts.values()) for k in ("jobs", "stages", "tasks", "failed_tasks")}
        build_jobs = sum(c["jobs"] for name, c in self.tr.counts.items() if name.endswith(".build"))
        ev = spans.event_log_metrics(os.path.join(self.work, "events"), ("m",))
        ev_tot = {k: sum(m[k] for m in ev.values()) for k in spans.EVENT_KEYS}
        write = ev.get("ingest.write_stream_table", dict.fromkeys(spans.EVENT_KEYS, 0))
        files_read = getattr(getattr(self, "runner", None), "files_read", [])
        stored = self.store.stored() if self.store is not None else (0, 0)
        return {
            "host.ref_job_s": (median([s for _t, s in self.ref]), "s"),
            "session.get_spark_s": (self.get_spark_s, "s"),
            "sources.discover_s": (mean_s("sources.discover"), "s"),
            "sources.files_kept_ratio": (
                st["files_kept"] / st["files_on_disk"] if st.get("files_on_disk") else 0.0, "ratio"),
            "sources.load_build_s": (mean_s("sources.load_build"), "s"),
            "sources.bytes_read": (write["input_bytes"], "bytes"),
            "ingest.write_stream_table_s": (mean_s("ingest.write_stream_table"), "s"),
            "ingest.rows_written": (write["output_records"], "count"),
            "ingest.files_written": (stored[0], "count"),
            "ingest.bytes_written": (stored[1], "bytes"),
            "ingest.stored_bytes_per_raw_byte": (stored[1] / self.tree.raw_bytes() if stored[1] else 0.0, "ratio"),
            "ingest.fetch_stream_s": (mean_s("ingest.fetch_stream.build") + mean_s("ingest.fetch_stream.exec"), "s"),
            "ingest.fetch_files_read": (statistics.fmean(files_read) if files_read else 0.0, "count"),
            "orchestrator.insert_s": (mean_s("orchestrator.insert"), "s"),
            "orchestrator.rows_inserted": (st.get("rows_inserted", 0), "count"),
            "orchestrator.populate_s": (mean_s("orchestrator.populate"), "s"),
            "orchestrator.pending_keys": (st.get("pending_keys", 0), "count"),
            "query.build_s": (mean_s("query.build"), "s"),
            "query.exec_s": (mean_s("query.exec"), "s"),
            "operators.build_s": (mean_s("operators.build"), "s"),
            "operators.exec_s": (mean_s("operators.exec"), "s"),
            "gate.build_s": (mean_s("gate.build"), "s"),
            "gate.exec_s": (mean_s("gate.exec"), "s"),
            "gate.build_jobs": (jobs_per_call("gate.build"), "count/op"),
            "gate.exec_jobs": (jobs_per_call("gate.exec"), "count/op"),
            "spark.jobs": (tot["jobs"] / n_ops, "count/op"),
            "spark.build_jobs": (build_jobs / n_ops, "count/op"),
            "spark.stages": (tot["stages"] / n_ops, "count/op"),
            "spark.tasks": (tot["tasks"] / n_ops, "count/op"),
            "spark.failed_tasks": (tot["failed_tasks"] / n_ops, "count/op"),
            "spark.shuffle_read_bytes": (ev_tot["shuffle_read_bytes"] / n_ops, "bytes/op"),
            "spark.shuffle_write_bytes": (ev_tot["shuffle_write_bytes"] / n_ops, "bytes/op"),
            "spark.spill_bytes": (ev_tot["spill_bytes"] / n_ops, "bytes/op"),
            "process.peak_rss_mb": (self.peak_rss, "MB"),
        }

    def run(self) -> dict:
        self.setup()
        getattr(self, f"run_{self.args.workload}")(self.args.seconds)
        self.peak_rss = peak_rss_mb()
        secs = [op[0] for op in self.lat_ops]
        p90 = percentile(secs, 90)
        print(
            f"ops timed: {len(secs)}, p50 {median(secs):.4f} s, "
            + (f"p90 {p90:.4f} s" if p90 is not None else "p90 not reported (fewer than 10 samples beyond it)")
        )
        metrics = self.end_to_end()
        if self.args.trace:
            # the traced run's end-to-end values; minus the untraced run's,
            # they give the tracing overhead
            e2e = {k: v for k, (v, _u) in metrics.items()}
            print(f"traced end-to-end: {json.dumps(e2e)}")
            self.spark.stop()  # flushes the event log
            self.spark = None
            self.tr.write(
                os.path.join(ROOT, ".bench_out", f"spans-{self.args.workload}-{self.args.seed}.json"),
                {"end_to_end": e2e},
            )
            metrics = self.per_layer(len({s["op"] for s in self.tr.spans}) or 1)
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main() -> int:
    args = parse_args()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    sys.path.insert(0, ROOT)
    bench = None
    try:
        import aeon_mecha_spark  # noqa: F401  (fails fast without the package)

        bench = Bench(args, work)
        result = bench.run()
    finally:
        if bench is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
