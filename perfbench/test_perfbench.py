"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
from datetime import timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import bench_gate as bg  # noqa: E402
import bench_queries as bq  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def test_generator_is_deterministic(tmp_path):
    a = gen.make_tree(str(tmp_path / "a"), 5, range(2), gen.QUERY_STREAMS)
    b = gen.make_tree(str(tmp_path / "b"), 5, range(2), gen.QUERY_STREAMS)
    c = gen.make_tree(str(tmp_path / "c"), 6, range(2), gen.QUERY_STREAMS)
    assert gen.tree_hash(a) == gen.tree_hash(b)
    assert gen.tree_hash(a) != gen.tree_hash(c)
    assert a.files() == b.files() and a.raw_bytes() == b.raw_bytes()


def test_epoch_boundary_splits_the_hour(tmp_path):
    tree = gen.make_tree(str(tmp_path), 1, range(4), gen.QUERY_STREAMS)
    starts = sorted(c.start for c in tree.chunks["Patch1_Encoder"])
    assert gen.EPOCH2 in starts and len(starts) == 5
    assert tree.dup_files == len(gen.QUERY_STREAMS)


def test_percentile_needs_ten_samples_beyond():
    assert run.percentile([float(i) for i in range(99)], 90) is None
    assert run.percentile([float(i) for i in range(100)], 90) is not None
    assert run.percentile([float(i) for i in range(1000)], 99) is not None
    assert run.percentile([float(i) for i in range(999)], 99) is None


def test_self_time_of_nested_spans(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 4.5, 10.0])
    monkeypatch.setattr(spans.time, "perf_counter", lambda: next(clock))
    tr = spans.Tracer(True)
    tr.op = "m0"
    with tr.span("outer"):          # 0 .. 10
        with tr.span("inner"):      # 1 .. 3
            pass
        with tr.span("inner"):      # 4 .. 4.5
            pass
    self_s = tr.self_times()
    assert self_s["inner"] == 2.5
    assert self_s["outer"] == 10.0 - 2.5
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]


def test_output_check_flags_a_wrong_answer(tmp_path):
    tree = gen.make_tree(str(tmp_path), 2, range(3), gen.QUERY_STREAMS)
    runner = bq.Runner.__new__(bq.Runner)
    runner.tree = tree
    q = bq.Query("sessions", "CameraTop_Video", gen.T0, gen.T0 + timedelta(hours=2), "CameraTop")
    _build, _execute, check = runner._q_sessions(q)
    t, _v = bq._window(tree, "CameraTop_Video", q)
    right = (len(t), 1 + int(((t[1:] - t[:-1]) > bq.CAMERA_GAP_US).sum()))
    assert check(right)
    assert not check((right[0], right[1] + 1))
    assert not check((right[0] - 1, right[1]))


def test_gate_digest_ignores_row_order_but_not_values():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None), (3, "c", [1.5, 2.0])]
    d = bg.digest(["k", "s", "x"], rows)
    assert d == bg.digest(["k", "s", "x"], rows[::-1])
    assert d != bg.digest(["k", "s", "y"], rows)
    assert d != bg.digest(["k", "s", "x"], [(1, "a", 0.3001), *rows[1:]])


def test_gate_tables_are_fixed(tmp_path):
    import pyarrow.parquet as pq

    a = bg.write_tables(str(tmp_path / "a"))
    bg.write_tables(str(tmp_path / "b"))
    for name in a:
        ta = pq.read_table(str(tmp_path / "a" / f"{name}.parquet"))
        assert ta.equals(pq.read_table(str(tmp_path / "b" / f"{name}.parquet")))
    assert set(bg.recorded()) == set(bg.GATE.values())
