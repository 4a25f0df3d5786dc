"""Seeded generator of an Aeon raw-data tree.

Layout: ``<root>/<exp>/<epoch>/<device>/<Device>_<stream>_<chunk-ts>.<ext>``,
one file per stream per hour. The tree starts at 21:00 on one day and
crosses midnight, so the stored stream tables span two date partitions.
A second epoch starts at 23:30, which truncates the first epoch's 23:00
chunk. CSV streams hold HARP-second timestamps; the binary amplifier
stream holds flat little-endian records of 4 x uint16.

Every value is a whole number, so sums read back from Spark can be checked
exactly. The same seed gives a byte-identical tree: each file's random
state is derived from (seed, stream index, hour) only.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

EXP = "exp01"
T0 = datetime(2024, 1, 1, 21, 0, 0)
EPOCH2 = datetime(2024, 1, 1, 23, 30, 0)
HARP_OFFSET_S = 2_082_844_800  # HARP seconds count from 1904-01-01
HOUR_US = 3_600_000_000
_UNIX0 = datetime(1970, 1, 1)


def us_of(t: datetime) -> int:
    return (t - _UNIX0) // timedelta(microseconds=1)


@dataclass(frozen=True)
class StreamSpec:
    device: str
    stream: str
    ext: str
    kind: str  # 'harp_csv' | 'binary'
    period_us: int
    columns: tuple[str, ...]

    @property
    def key(self) -> str:
        return f"{self.device}_{self.stream}"


ENCODER = StreamSpec("Patch1", "Encoder", "csv", "harp_csv", 200_000, ("angle", "intensity"))
VIDEO = StreamSpec("CameraTop", "Video", "csv", "harp_csv", 500_000, ("hw_counter", "hw_timestamp"))
AMPLIFIER = StreamSpec("Onix", "AmplifierData", "bin", "binary", 28_800, ("ch0", "ch1", "ch2", "ch3"))
# every stream costs a fixed number of Spark jobs per round, so the ingest
# tree keeps one CSV stream (native CSV scan) and one binary stream
# (mapInPandas decode)
INGEST_STREAMS = [ENCODER, AMPLIFIER]
# the streams the session_query reads
QUERY_STREAMS = [ENCODER, VIDEO]


@dataclass
class Chunk:
    """One chunk file as written: sample times (µs since unix epoch) and
    integer values per column."""

    path: str
    epoch: datetime
    hour: datetime
    start: datetime
    times: np.ndarray
    values: dict[str, np.ndarray]
    nbytes: int


@dataclass
class Tree:
    root: str
    dup_root: str
    streams: list[StreamSpec]
    chunks: dict[str, list[Chunk]] = field(default_factory=dict)
    dup_files: int = 0

    def epochs(self) -> list[datetime]:
        return sorted({c.epoch for cs in self.chunks.values() for c in cs})

    def rows(self, key: str) -> int:
        return sum(len(c.times) for c in self.chunks[key])

    def raw_bytes(self, key: str | None = None) -> int:
        keys = [key] if key else list(self.chunks)
        return sum(c.nbytes for k in keys for c in self.chunks[k])

    def files(self, key: str | None = None) -> int:
        keys = [key] if key else list(self.chunks)
        return sum(len(self.chunks[k]) for k in keys)

    def hours(self) -> list[datetime]:
        return sorted({c.hour for cs in self.chunks.values() for c in cs})

    def concat(self, key: str) -> tuple[np.ndarray, dict[str, np.ndarray]]:
        cs = sorted(self.chunks[key], key=lambda c: (c.times[0] if len(c.times) else 0))
        times = np.concatenate([c.times for c in cs])
        spec = next(s for s in self.streams if s.key == key)
        vals = {col: np.concatenate([c.values[col] for c in cs]) for col in spec.columns}
        return times, vals


def _epoch_of(t: datetime) -> datetime:
    return EPOCH2 if t >= EPOCH2 else T0


def _sample_times(spec: StreamSpec, lo_us: int, hi_us: int) -> np.ndarray:
    first = -(-lo_us // spec.period_us) * spec.period_us
    return np.arange(first, hi_us, spec.period_us, dtype=np.int64)


def _values(spec: StreamSpec, rng: np.random.Generator, times: np.ndarray) -> dict[str, np.ndarray]:
    n = len(times)
    if spec.stream == "Encoder":
        return {"angle": rng.integers(0, 360, n), "intensity": rng.integers(0, 100, n)}
    if spec.stream == "Video":
        # frame counter runs on the nominal grid; dropped frames leave a gap
        counter = (times - us_of(T0)) // spec.period_us
        return {"hw_counter": counter, "hw_timestamp": (times - us_of(T0)) * 1000}
    return {c: rng.integers(0, 65_536, n) for c in spec.columns}


def _encode(spec: StreamSpec, times: np.ndarray, values: dict[str, np.ndarray]) -> bytes:
    if spec.kind == "harp_csv":
        sec = times // 1_000_000 + HARP_OFFSET_S
        frac = times % 1_000_000
        cols = [values[c] for c in spec.columns]
        lines = ["aeon_time," + ",".join(spec.columns)]
        lines.extend(
            f"{s}.{f:06d}," + ",".join(str(v) for v in row)
            for s, f, *row in zip(sec.tolist(), frac.tolist(), *[c.tolist() for c in cols])
        )
        return ("\n".join(lines) + "\n").encode()
    arr = np.stack([values[c] for c in spec.columns], axis=1).astype("<u2")
    return arr.tobytes()


def _file_path(root: str, spec: StreamSpec, epoch: datetime, start: datetime) -> str:
    """A chunk file is named after the first instant it covers, so a binary
    sample's time is the file's timestamp plus its index times the period."""
    d = os.path.join(root, EXP, epoch.strftime("%Y-%m-%dT%H-%M-%S"), spec.device)
    return os.path.join(d, f"{spec.key}_{start.strftime('%Y-%m-%dT%H-%M-%S')}.{spec.ext}")


def write_hour(tree: Tree, seed: int, hour_idx: int, camera_drop_p: float = 0.002) -> list[str]:
    """Write every stream's chunk file(s) for hour ``hour_idx`` (0 = 21:00).
    The 23:00 hour is split between the two epochs: two files, the second
    named 23:30. Returns the paths."""
    hour = T0 + timedelta(hours=hour_idx)
    lo, hi = us_of(hour), us_of(hour) + HOUR_US
    parts = [(lo, hi)]
    if lo < us_of(EPOCH2) < hi:
        parts = [(lo, us_of(EPOCH2)), (us_of(EPOCH2), hi)]
    written = []
    for si, spec in enumerate(tree.streams):
        rng = np.random.default_rng([seed, si, hour_idx])
        for a, b in parts:
            times = _sample_times(spec, a, b)
            if spec.stream == "Video":
                times = times[rng.random(len(times)) >= camera_drop_p]
            values = _values(spec, rng, times)
            data = _encode(spec, times, values)
            start = _UNIX0 + timedelta(microseconds=a)
            path = _file_path(tree.root, spec, _epoch_of(start), start)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(data)
            tree.chunks.setdefault(spec.key, []).append(
                Chunk(path, _epoch_of(start), hour, start, times, values, len(data))
            )
            written.append(path)
    return written


def write_duplicates(tree: Tree) -> None:
    """Lower-priority root holding stale copies of the first hour's chunks.
    Their content differs (one sample only), so a dedup that let them win
    would change every row count the benchmark checks."""
    for cs in tree.chunks.values():
        c = cs[0]
        rel = os.path.relpath(c.path, tree.root)
        dst = os.path.join(tree.dup_root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(c.path, "rb") as f:
            head = f.read(64)
        with open(dst, "wb") as f:
            f.write(head.split(b"\n")[0] + b"\n" if c.path.endswith(".csv") else head[:16])
        tree.dup_files += 1


def make_tree(base: str, seed: int, hours: range, streams: list[StreamSpec]) -> Tree:
    """Write ``hours`` (indexes from 21:00) of every stream, then the
    lower-priority duplicates."""
    tree = Tree(os.path.join(base, "raw"), os.path.join(base, "raw_old"), streams)
    for h in hours:
        write_hour(tree, seed, h)
    write_duplicates(tree)
    return tree


def tree_hash(tree: Tree) -> str:
    h = hashlib.sha256()
    for root in (tree.root, tree.dup_root):
        for d, _dirs, files in sorted(os.walk(root)):
            _dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, os.path.dirname(root)).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()
