"""Spans and Spark counts for the traced run.

A span is (name, start, end, parent, op). Spans are kept in memory and
written as JSON at exit. While a span is open, Spark jobs run under a job
group named ``<op>|<span>``, so the status tracker attributes jobs, stages
and tasks to the span that launched them. Shuffle and spill bytes come
from the Spark event log, mapped to spans through the job group each job
carries in its properties; so do the input and output bytes and records
of each span's tasks.

With tracing off, ``span`` only yields: no job groups, no records.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = ""
        self.counts: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self._groups: list[tuple[str, str]] = []
        self._sc = None

    def bind(self, spark) -> None:
        if self.enabled:
            self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        group = f"{self.op}|{name}"
        self._set_group(group)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(f"{self.op}|{self.spans[self._stack[-1]]['name']}" if self._stack else None)
            self._groups.append((group, name))

    def _set_group(self, group: str | None) -> None:
        if self._sc is None:  # not bound to a session: spans only
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def collect_spark_counts(self) -> None:
        """Read jobs/stages/tasks per span from the status tracker. Called
        after each op, while the tracker still retains its jobs."""
        if self._sc is None:
            return
        st = self._sc.statusTracker()
        for group, name in self._groups:
            c = self.counts[name]
            for jid in st.getJobIdsForGroup(group):
                job = st.getJobInfo(jid)
                if job is None:
                    continue
                c["jobs"] += 1
                for sid in job.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is None:
                        continue
                    c["stages"] += 1
                    c["tasks"] += stage.numTasks
                    c["failed_tasks"] += stage.numFailedTasks
        self._groups.clear()

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if "end" in s:
                out[s["name"]].append(s["end"] - s["start"])
        return out

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part covered
        by its children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if "end" in s:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, f)


EVENT_KEYS = (
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "input_records", "output_bytes", "output_records",
)


def event_log_metrics(log_dir: str, op_prefixes: tuple[str, ...]) -> dict[str, dict[str, int]]:
    """Task metrics per span name (shuffle read/write, spill, input and
    output bytes and records), summed from every event log under
    ``log_dir`` over the jobs whose group ``<op>|<span>`` has an op that
    starts with one of ``op_prefixes``."""
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(EVENT_KEYS, 0))
    for path in glob.glob(os.path.join(log_dir, "*")):
        span_of_stage: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    op, _, name = group.partition("|")
                    if name and op.startswith(op_prefixes):
                        span_of_stage.update(dict.fromkeys(ev.get("Stage IDs", []), name))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    name = span_of_stage.get(ev.get("Stage ID"))
                    if name is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    w = m.get("Shuffle Write Metrics") or {}
                    i = m.get("Input Metrics") or {}
                    o = m.get("Output Metrics") or {}
                    tot = out[name]
                    tot["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    tot["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    tot["input_bytes"] += i.get("Bytes Read", 0)
                    tot["input_records"] += i.get("Records Read", 0)
                    tot["output_bytes"] += o.get("Bytes Written", 0)
                    tot["output_records"] += o.get("Records Written", 0)
    return out
