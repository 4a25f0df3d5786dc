"""Gate queries (``__spark_entry__.queries()``) over generated tables.

``write_tables`` writes ``lineitem`` and ``documents`` in the
testdata layout (``<dir>/<table>.parquet``) from a fixed generator seed,
so each query has one answer; its order-independent digest is recorded in
``gate_digests.json``.

    python3 perfbench/bench_gate.py     # re-record gate_digests.json
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "gate_digests.json")

# query kind in the session_query stream -> gate query: a build-heavy one
# (it runs jobs while its plan is built) and a sink-heavy one
GATE = {"gate_lm": "q205_bigram_logprob", "gate_agg": "q01_pricing_summary"}
DATA_SEED = 42
LINEITEM_ROWS = 60_000
DOCUMENTS = 500
WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector line "
    "table data agg value key stream window a spark part group big sort query fast the"
).split()


def write_tables(out: str) -> dict[str, int]:
    """Write the tables under ``out``; returns their row counts."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    n = LINEITEM_ROWS
    qty = rng.integers(1, 51, n).astype(float)
    day0 = np.datetime64("1995-01-01", "us")
    lineitem = {
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, 2000, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(900_00, 2100_00, n) / 100, 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": day0 + rng.integers(0, 2500, n).astype("timedelta64[D]"),
    }
    lengths = rng.integers(10, 100, DOCUMENTS)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    documents = {
        "doc_id": np.arange(DOCUMENTS),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], DOCUMENTS, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts]),
    }
    tables = {"lineitem": lineitem, "documents": documents}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


def _canon(v) -> str:
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def digest(columns: list[str], rows) -> str:
    """SHA-256 of the column names and the sorted rows: the row order a
    plan happens to produce does not change it."""
    h = hashlib.sha256(",".join(columns).encode())
    for line in sorted("|".join(_canon(v) for v in r) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def recorded() -> dict[str, str]:
    with open(DIGESTS) as f:
        return json.load(f)


def main() -> None:
    import shutil
    import sys

    sys.path[:0] = [HERE, os.path.dirname(HERE)]
    import __spark_entry__ as entry
    import run
    from aeon_mecha_spark.session import get_spark

    work = os.path.join(os.path.dirname(HERE), ".bench_work", f"record-{os.getpid()}")
    run.prepare_env(work)
    spark = get_spark("perfbench", extra_conf=run.spark_conf(work, False))
    try:
        data = os.path.join(work, "gate")
        write_tables(data)
        qs = entry.queries()
        out = {}
        for name in GATE.values():
            df = qs[name](spark, data)
            out[name] = digest(df.columns, df.collect())
            spark.catalog.clearCache()
        with open(DIGESTS, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
