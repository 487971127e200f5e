"""The ``ingest_proto`` workload: Kafka-shaped proto records → Parquet.

The records come from ``ingest_gen.py``, a separate process. The
pipeline is ``streaming.ingest`` with ``wire_format_decoder`` and a
``yyyy/MM/dd`` event-time layout, fed through the file source because
no Kafka connector ships with the image.

- Set-up: one drain of the backlog warms the pipeline and is checked
  row for row (count and content checksum) against the generator.
- Phase A (open loop, latency): ``start_ingest`` with a
  ``TRIGGER_S`` trigger while the generator lands one file every
  ``1 / RATE`` seconds. A
  file's latency runs from its scheduled landing time to the commit of
  the micro-batch that read it: the source log in the checkpoint names
  the batch, and the batch's ``_spark_metadata/<batchId>`` entry in the
  target is its commit. The output is checked against the generator.
- Phase B (throughput): ``ingest_once`` drains the fixed backlog
  ``DRAINS`` times, each into a fresh target; each drain is one pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq

from ingest_gen import FIELD_MAP, FIELDS, checksum

#: Phase A trigger interval. A micro-batch costs ~1.3-2 s on local[2]
#: whatever its size (planning, listing, one file per date partition, WAL
#: and commit), so a shorter trigger runs near back to back and queues in
#: every slow spell of the host
TRIGGER_S = 4
#: Phase B: backlog drains per run, each one pass (about half of a 28 s run)
DRAINS = 7
READY_TIMEOUT_S = 90.0


def start_generator(work: str, seed: int, seconds: int) -> subprocess.Popen:
    """Launch the generator; it pre-encodes while Spark starts."""
    here = os.path.dirname(os.path.abspath(__file__))
    return subprocess.Popen(
        [
            sys.executable,
            os.path.join(here, "ingest_gen.py"),
            "--dir", work,
            "--seed", str(seed),
            "--seconds", str(seconds),
        ],
        stdout=subprocess.DEVNULL,
    )


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _wait_for(path: str, gen: subprocess.Popen, timeout: float) -> dict:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if gen.poll() is not None and not os.path.exists(path):
            raise RuntimeError(f"generator exited with {gen.returncode}")
        if time.time() > deadline:
            raise TimeoutError(f"generator wrote no {os.path.basename(path)}")
        time.sleep(0.01)
    return _read_json(path)


def _log_entries(log_dir: str) -> dict[str, list[dict]]:
    """Metadata-log file name → its JSON entries (``0``, ``1``, ``9.compact`` …)."""
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()[1:]  # first line is the log version
        out[name] = [json.loads(ln) for ln in lines if ln.strip()]
    return out


def committed_files(target: str) -> list[str]:
    """Data files the file sink committed, per its ``_spark_metadata`` log."""
    paths = {
        unquote(urlparse(e["path"]).path)
        for entries in _log_entries(os.path.join(target, "_spark_metadata")).values()
        for e in entries
        if e.get("action", "add") == "add"
    }
    return sorted(paths)


def commit_times(target: str) -> dict[int, float]:
    """batchId → time its sink log entry was written (the batch's commit)."""
    log = os.path.join(target, "_spark_metadata")
    return {
        int(name.split(".")[0]): os.stat(os.path.join(log, name)).st_mtime
        for name in os.listdir(log)
        if name.split(".")[0].isdigit() and not name.endswith(".tmp")
    }


def source_batches(checkpoint: str) -> dict[str, int]:
    """Input file name → batchId that read it, from the source log."""
    out = {}
    for entries in _log_entries(os.path.join(checkpoint, "sources", "0")).values():
        for e in entries:
            out[os.path.basename(unquote(urlparse(e["path"]).path))] = e["batchId"]
    return out


def read_output(target: str) -> tuple[list[tuple], list[str]]:
    files = committed_files(target)
    rows: list[tuple] = []
    for path in files:
        cols = pq.read_table(path, columns=FIELDS).to_pydict()
        rows.extend(zip(*(cols[k] for k in FIELDS)))
    return rows, files


def output_rows(target: str) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in committed_files(target))


class IngestRun:
    """One ``ingest_proto`` run on a live session."""

    def __init__(self, spark, work: str, gen: subprocess.Popen, tracer) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.types import BinaryType, StructField, StructType, TimestampType

        from kafka_parquet_writer_spark.sources.decoders import wire_format_decoder

        self.spark, self.work, self.gen, self.tracer = spark, work, gen, tracer
        self.schema = StructType(
            [
                StructField("key", BinaryType()),
                StructField("value", BinaryType()),
                StructField("timestamp", TimestampType()),
            ]
        )
        wire = wire_format_decoder(FIELD_MAP)
        self.decoder = lambda df: wire(df).withColumn(
            "event_time", F.timestamp_micros("ts_us")
        )
        self.attempted = 0
        self.failed = 0
        self._n = 0
        self.ready: dict = {}

    def config(self, source: str, trigger_seconds: int | None):
        from kafka_parquet_writer_spark.streaming.ingest import IngestConfig

        self._n += 1
        base = os.path.join(self.work, f"sink-{self._n}")
        return IngestConfig(
            target_dir=os.path.join(base, "out"),
            checkpoint_dir=os.path.join(base, "ckpt"),
            source_path=source,
            source_schema=self.schema,
            decoder=self.decoder,
            partition_time_column="event_time",
            trigger_seconds=trigger_seconds,
        )

    def drain(self, full_check: bool) -> float:
        """One ``ingest_once`` over the backlog; returns its seconds."""
        from kafka_parquet_writer_spark.streaming.ingest import ingest_once

        cfg = self.config(os.path.join(self.work, "backlog"), None)
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("ingest.ingest_once"):
            ingest_once(self.spark, cfg)
        dt = time.perf_counter() - t0
        want = self.ready["backlog"]
        if full_check:
            rows, _ = read_output(cfg.target_dir)
            ok = len(rows) == want["rows"] and checksum(rows) == want["checksum"]
        else:
            ok = output_rows(cfg.target_dir) == want["rows"]
        if not ok:
            self.failed += 1
        return dt

    def setup(self) -> None:
        self.ready = _wait_for(os.path.join(self.work, "ready.json"), self.gen, READY_TIMEOUT_S)
        self.drain(full_check=True)

    def phase_a(self, seconds: int) -> dict:
        """Open-loop landing at RATE files/s; per-file latency and checks."""
        from kafka_parquet_writer_spark.streaming.ingest import start_ingest

        cfg = self.config(os.path.join(self.work, "live"), TRIGGER_S)
        metrics = None
        if self.tracer.enabled:
            from kafka_parquet_writer_spark.streaming.ingest import IngestMetrics

            metrics = IngestMetrics(self.spark, cfg.target_dir)
        with self.tracer.span("ingest.start_ingest"):
            q = start_ingest(self.spark, cfg)
        try:
            t0 = time.time() + 0.2
            with open(os.path.join(self.work, "go.json.tmp"), "w") as f:
                json.dump({"t0": t0}, f)
            os.replace(os.path.join(self.work, "go.json.tmp"), os.path.join(self.work, "go.json"))
            self.gen.wait(timeout=seconds + 60)
            manifest = _read_json(os.path.join(self.work, "manifest.json"))
            with self.tracer.span("ingest.processAllAvailable"):
                q.processAllAvailable()
        finally:
            q.stop()
            if metrics is not None:
                metrics.remove(self.spark)
        window = (t0, time.time())
        files = manifest["files"]
        self.attempted += len(files)
        rows, out_files = read_output(cfg.target_dir)
        want = self.ready["live"]
        content_ok = len(rows) == want["rows"] and checksum(rows) == want["checksum"]
        batch_of = source_batches(cfg.checkpoint_dir)
        commit = commit_times(cfg.target_dir)
        lat = []
        done = []
        for f in files:
            b = batch_of.get(f["name"])
            committed = b is not None and b in commit
            # a wrong output fails every file; an uncommitted file fails once
            if not (content_ok and committed):
                self.failed += 1
            if committed:
                lat.append(commit[b] - f["scheduled"])
                done.append((f["landed"], commit[b]))
        # landed-but-uncommitted files, seen at each landing
        backlog_max = max(
            (sum(1 for l2, c2 in done if l2 <= land < c2) for land, _ in done), default=0
        )
        if not lat:
            raise RuntimeError("no landed file was committed; no latency to report")
        null_rows = sum(1 for r in rows if all(v is None for v in r))
        return {
            "latencies": lat,
            "files": len(files),
            "window": window,
            "late_s_max": manifest["late_s_max"],
            "batches": len(commit),
            "out_files": len(out_files),
            "backlog_files_max": backlog_max,
            "null_row_frac": null_rows / len(rows) if rows else 0.0,
            "file_bytes_p50": (metrics.file_size_histogram().get("p50", 0) if metrics else 0),
        }

    def phase_b(self) -> tuple[list[float], list[tuple[float, float]]]:
        times, windows = [], []
        for _ in range(DRAINS):
            a = time.time()
            times.append(self.drain(full_check=False))
            windows.append((a, time.time()))
        return times, windows

    def parse_us_per_record(self, n: int = 20000) -> float:
        """Mean µs per ``parse_wire_format`` call on the workload's own values."""
        from kafka_parquet_writer_spark.sources.decoders import parse_wire_format

        backlog = os.path.join(self.work, "backlog")
        first = sorted(os.listdir(backlog))[0]
        values = pq.read_table(os.path.join(backlog, first), columns=["value"])["value"]
        values = values.to_pylist()[:n]
        t0 = time.perf_counter()
        for v in values:
            parse_wire_format(v)
        return (time.perf_counter() - t0) / len(values) * 1e6
