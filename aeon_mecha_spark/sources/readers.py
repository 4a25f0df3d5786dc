"""Reader registry — the Spark equivalent of the reference's Reader
classes (``pattern``, ``columns``, ``extension``, ``read(file)``;
/root/reference docs notebook cell 7, aeon/schema/ephys.py:12-29) and of
the StreamType catalog (streams.py:16-35).

A Reader here is declarative: file pattern + extension + Spark schema +
a parse strategy. Parsing is executor-side and Arrow-batched:

- ``csv`` readers use Spark's native CSV scan (JVM, splittable);
- ``binary`` readers decode flat little-endian records inside
  ``mapInPandas``: each task reads its own files and reshapes them with
  numpy — the same np.fromfile(...).reshape(-1, n) the reference does,
  but distributed as contiguous runs of files per task, rows emitted in
  (chunk_file, sample_idx) order without a sort.

The registry doubles as the stream *catalog*: name → reader spec, the
analog of StreamType rows, but plain data instead of generated classes
(streams_maker.py's per-device code generation is unnecessary here —
one generic loader covers every stream).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from aeon_mecha_spark.functions.time import HARP_EPOCH_OFFSET_S  # noqa: F401  (re-export)


@dataclass(frozen=True)
class Reader:
    """Declarative stream-reader spec.

    pattern     glob fragment selecting this stream's chunk files,
                e.g. ``CameraTop_video`` → files ``<pattern>_<ts>.<ext>``.
    extension   file extension without dot (csv / bin).
    kind        'harp_csv' | 'binary' | 'clock'.
    columns     data column names (exclusive of the time/index column).
    dtype       numpy dtype string for binary records (per column).
    """

    name: str
    pattern: str
    extension: str
    kind: str
    columns: tuple[str, ...]
    dtype: str = "<u2"

    @property
    def spark_schema(self) -> str:
        if self.kind == "harp_csv":
            cols = ", ".join(f"`{c}` double" for c in self.columns)
            return f"time timestamp, {cols}"
        if self.kind == "clock":
            return "sample_idx bigint, clock bigint"
        # flat binary: integer samples per channel column
        cols = ", ".join(f"`{c}` bigint" for c in self.columns)
        return f"sample_idx bigint, {cols}"


def decode_binary(reader: Reader, content: bytes) -> pd.DataFrame:
    """np.frombuffer(dtype).reshape(-1, n_cols) — reference parity with
    aeon/schema/ephys.py:12-23 (Binary reader), executed per file inside
    mapInPandas."""
    if reader.kind == "clock":
        arr = np.frombuffer(content, dtype="<u8").astype("int64")
        return pd.DataFrame({"sample_idx": np.arange(len(arr), dtype="int64"), "clock": arr})
    arr = np.frombuffer(content, dtype=reader.dtype)
    n = len(reader.columns)
    arr = arr[: (len(arr) // n) * n].reshape(-1, n).astype("int64")
    out = pd.DataFrame(arr, columns=list(reader.columns))
    out.insert(0, "sample_idx", np.arange(len(out), dtype="int64"))
    return out


# -- default registry (the reference's common streams) ----------------------

REGISTRY: dict[str, Reader] = {}


def register(reader: Reader) -> Reader:
    REGISTRY[reader.name] = reader
    return reader


register(Reader("harp_sync", "HarpSync", "csv", "harp_csv", ("clock", "hub_clock", "harp_time")))
register(Reader("camera_frames", "Camera_video", "csv", "harp_csv", ("hw_counter", "hw_timestamp")))
register(Reader("encoder", "Encoder", "csv", "harp_csv", ("angle", "intensity")))
register(Reader("weight", "Weight", "csv", "harp_csv", ("weight", "stability")))
register(Reader("onix_clock", "Clock", "bin", "clock", ("clock",), "<u8"))
register(Reader("amplifier", "AmplifierData", "bin", "binary", ("ch0", "ch1", "ch2", "ch3"), "<u2"))
