"""Open-loop Kafka-shaped record generator for the ``ingest_proto`` workload.

A separate, single-threaded process. It pre-encodes ``events`` rows as
protobuf wire-format values (``encode_wire_format``) into parquet files
shaped like Kafka records (``key``, ``value``, ``timestamp``), then lands
them on a fixed schedule that does not slow down when the system under
test does.

Protocol, all through files in ``--dir``:

1. writes the drain backlog to ``backlog/`` and the scheduled files to
   ``staging/``, then ``ready.json`` with the row counts and checksums
   of both sets;
2. waits for ``go.json`` (``{"t0": <epoch seconds>}``);
3. moves staged file ``i`` into ``live/`` by atomic rename at
   ``t0 + i / rate``, landing late files at once without shifting the
   schedule;
4. writes ``manifest.json``: each file's scheduled and actual landing
   time, and ``late_s_max``, the worst lateness of the generator itself.

Run: ``python3 perfbench/ingest_gen.py --dir D --seed N --seconds 10``
(lands ``RATE × --seconds`` files).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datagen import TABLE_SEED, event_rows  # noqa: E402
from kafka_parquet_writer_spark.sources.decoders import encode_wire_format  # noqa: E402

#: output column -> (proto field number, type): the decoder's field map
FIELD_MAP = {
    "event_id": (1, "long"),
    "ts_us": (2, "long"),
    "user_id": (3, "long"),
    "event_type": (4, "string"),
    "value": (5, "double"),
    "props": (6, "string"),
}
FIELDS = list(FIELD_MAP)
#: Phase A: files landed per second and rows per file; 4 000 rows/s is
#: ≈ 10 % of the warm drain rate on local[2]
RATE = 20.0
ROWS_PER_FILE = 200
#: Phase B: the backlog drained in each pass, and the files it is split into
BACKLOG_ROWS = 100_000
BACKLOG_FILES = 8
GO_TIMEOUT_S = 120.0


def row_checksum(row: tuple) -> int:
    """CRC32 of one decoded record in canonical text form."""
    return zlib.crc32("|".join(repr(v) for v in row).encode())


def checksum(rows: list[tuple]) -> int:
    """Order-free content checksum of a record set (sum of row CRCs)."""
    return sum(row_checksum(r) for r in rows) % (1 << 64)


def _write_atomic(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def _kafka_file(path: str, rows: list[tuple], created_ms: int) -> None:
    values = [
        encode_wire_format({FIELD_MAP[k][0]: v for k, v in zip(FIELDS, r)})
        for r in rows
    ]
    table = pa.table(
        {
            "key": pa.array([str(r[2]).encode() for r in rows], pa.binary()),
            "value": pa.array(values, pa.binary()),
            "timestamp": pa.array([created_ms] * len(rows), pa.timestamp("ms")),
        }
    )
    pq.write_table(table, path)


def _records(n: int, seed: int) -> list[tuple]:
    """``n`` events records in the order the seed picks."""
    ev = event_rows(n, np.random.default_rng(TABLE_SEED))
    cols = [ev[k].tolist() for k in FIELDS]
    rows = list(zip(*cols))
    order = np.random.default_rng(seed).permutation(n)
    return [rows[i] for i in order]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True, help="landing schedule length")
    a = ap.parse_args(argv)
    n_files = int(RATE * a.seconds)

    dirs = {d: os.path.join(a.dir, d) for d in ("backlog", "staging", "live")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    rows = _records(BACKLOG_ROWS + n_files * ROWS_PER_FILE, a.seed)
    backlog, scheduled = rows[:BACKLOG_ROWS], rows[BACKLOG_ROWS:]
    now_ms = int(time.time() * 1000)
    per = -(-BACKLOG_ROWS // BACKLOG_FILES)
    for i in range(BACKLOG_FILES):
        _kafka_file(
            os.path.join(dirs["backlog"], f"backlog-{i:05d}.parquet"),
            backlog[i * per : (i + 1) * per],
            now_ms,
        )
    names = []
    for i in range(n_files):
        name = f"part-{i:05d}.parquet"
        chunk = scheduled[i * ROWS_PER_FILE : (i + 1) * ROWS_PER_FILE]
        _kafka_file(os.path.join(dirs["staging"], name), chunk, now_ms)
        names.append(name)
    _write_atomic(
        os.path.join(a.dir, "ready.json"),
        {
            "backlog": {"rows": len(backlog), "checksum": checksum(backlog)},
            "live": {"rows": len(scheduled), "checksum": checksum(scheduled)},
        },
    )

    go = os.path.join(a.dir, "go.json")
    deadline = time.time() + GO_TIMEOUT_S
    while not os.path.exists(go):
        if time.time() > deadline:
            print("ingest_gen: no go.json within timeout", file=sys.stderr)
            return 3
        time.sleep(0.002)
    with open(go) as f:
        t0 = float(json.load(f)["t0"])

    landed = []
    for i, name in enumerate(names):
        due = t0 + i / RATE
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.replace(
            os.path.join(dirs["staging"], name), os.path.join(dirs["live"], name)
        )
        landed.append(
            {
                "name": name,
                "scheduled": due,
                "landed": time.time(),
                "rows": ROWS_PER_FILE,
            }
        )
    _write_atomic(
        os.path.join(a.dir, "manifest.json"),
        {
            "files": landed,
            "late_s_max": max(f["landed"] - f["scheduled"] for f in landed),
        },
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
