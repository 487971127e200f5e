"""Tracing for the benchmark's traced runs (``--trace 1``).

Everything here observes the program from outside, through its public
functions and Spark's own reporting:

- ``Tracer`` keeps spans (name, start, end, parent) in memory around the
  benchmark's calls into each layer and writes them out at the end;
- ``patch_load_table`` times every ``catalog.load_table`` call made by
  the operators;
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress event;
- ``parse_event_log`` sums task metrics from Spark's local event log
  over the measured intervals.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import sys
import threading
import time
from datetime import datetime


class Tracer:
    """In-memory spans; ``enabled=False`` makes every span free."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> tuple[int, float]:
        """(count, summed seconds) of the named spans."""
        hits = [s for s in self.spans if s["name"] == name]
        return len(hits), sum(s["end"] - s["start"] for s in hits)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextlib.contextmanager
def patch_load_table(tracer: Tracer):
    """Wrap ``catalog.load_table`` everywhere an operator module bound it."""
    from kafka_parquet_writer_spark import catalog

    original = catalog.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("catalog.load_table", table=name):
            return original(spark, sf_dir, name)

    owners = [
        m
        for n, m in list(sys.modules.items())
        if n.startswith("kafka_parquet_writer_spark")
        and getattr(m, "load_table", None) is original
    ]
    for m in owners:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in owners:
            m.load_table = original


def plan_shape(df) -> tuple[float, int, int]:
    """(seconds to the executed plan, plan nodes, shuffle exchanges)."""
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan()
    dt = time.perf_counter() - t0
    lines = [ln for ln in plan.treeString().splitlines() if ln.strip()]
    # "Exchange hashpartitioning(...)": shuffles, not broadcasts or reuses
    exchanges = sum(1 for ln in lines if ln.lstrip(" :+-").startswith("Exchange "))
    return dt, len(lines), exchanges


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..1)."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def conf_changes(before: dict, after: dict) -> int:
    """Session-conf entries added, removed or changed."""
    return sum(1 for k in before.keys() | after.keys() if before.get(k) != after.get(k))


class StreamProgress:
    """Keeps every streaming progress event of the session."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        lock = self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                rec = {
                    "run": str(p.runId),
                    "start": _iso_epoch(p.timestamp),
                    "rows": p.numInputRows,
                    "durations": dict(p.durationMs),
                    "state": [
                        (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                        for s in p.stateOperators
                    ],
                }
                with lock:
                    events.append(rec)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def remove(self, spark) -> None:
        spark.streams.removeListener(self._listener)

    def summary(self, windows: list[tuple[float, float]], passes: int) -> dict[str, float]:
        """stream.* metrics over progress events whose trigger started in a window."""
        with self._lock:
            evs = [e for e in self.events if any(a <= e["start"] <= b for a, b in windows)]
        n = len(evs)

        def mean_of(key: str) -> float:
            return sum(e["durations"].get(key, 0) for e in evs) / n if n else 0.0

        last_state: dict[str, list] = {}
        for e in evs:
            last_state[e["run"]] = e["state"]
        trig = [e["durations"].get("triggerExecution", 0) for e in evs]
        return {
            "stream.batches": n / max(passes, 1),
            "stream.trigger_ms_p50": statistics.median(trig) if trig else 0.0,
            "stream.addBatch_ms": mean_of("addBatch"),
            "stream.walCommit_ms": mean_of("walCommit"),
            "stream.commitOffsets_ms": mean_of("commitOffsets"),
            "stream.queryPlanning_ms": mean_of("queryPlanning"),
            "stream.latestOffset_ms": mean_of("latestOffset"),
            "stream.state_rows": sum(s[0] for st in last_state.values() for s in st)
            / max(passes, 1),
            "stream.state_mem_bytes": sum(s[1] for st in last_state.values() for s in st)
            / max(passes, 1),
            "stream.state_commit_ms": (
                sum(s[2] for e in evs for s in e["state"]) / n if n else 0.0
            ),
        }


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def parse_event_log(log_dir: str, windows: list[tuple[float, float]], passes: int) -> dict[str, float]:
    """exec.* metrics from the tasks launched inside the measured windows."""
    wins = [(a * 1000.0, b * 1000.0) for a, b in windows]
    tasks: list[dict] = []
    # Spark 4 writes a directory per application (rolling event log)
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path, errors="replace") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev["Task Info"]
                if any(a <= info["Launch Time"] <= b for a, b in wins):
                    tasks.append(
                        {
                            "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                            "dur": info["Finish Time"] - info["Launch Time"],
                            "m": ev.get("Task Metrics") or {},
                        }
                    )
    per = max(passes, 1)

    def total(get) -> float:
        return sum(get(t["m"]) for t in tasks) / per

    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["dur"])
    skew = 0.0
    if by_stage:
        longest = max(by_stage.values(), key=sum)
        med = statistics.median(longest)
        skew = max(longest) / med if med > 0 else 1.0
    return {
        "exec.stages": len(by_stage) / per,
        "exec.tasks": len(tasks) / per,
        "exec.executor_run_s": total(lambda m: m.get("Executor Run Time", 0)) / 1e3,
        "exec.executor_cpu_s": total(lambda m: m.get("Executor CPU Time", 0)) / 1e9,
        "exec.gc_s": total(lambda m: m.get("JVM GC Time", 0)) / 1e3,
        "exec.shuffle_write_bytes": total(
            lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        ),
        "exec.shuffle_read_bytes": total(
            lambda m: m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
            + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
        ),
        "exec.spill_bytes": total(
            lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ),
        "exec.input_bytes": total(lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0)),
        "exec.task_skew": skew,
    }
