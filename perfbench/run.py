"""Layered benchmark of kafka_parquet_writer_spark on ``local[2]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_stream --seed 1 --seconds 28 --trace 0

Workloads:

- ``ingest_proto``: proto-encoded Kafka-shaped records through
  ``streaming.ingest`` (see ``ingest.py``). Open loop: a separate
  generator process lands files on a fixed schedule.
- ``sql_stream``: short relational queries through the noop sink and a
  stateful micro-batch query into the memory sink, in one mix.
  Closed loop, one client: keys run back to back.

The seed orders the keys within each pass of the mix, and sets the
record order and file assignment of the ingest records; the tables
themselves are fixed (``datagen.py``).

Every run checks outputs. In set-up, each key's result is compared
with its DuckDB oracle (``registry.ORACLES``) by the comparator of
``tools/verify_oracle.py``; the ingest output is checked against the
generator's row count and content checksum. A mismatch or an exception
counts as a failed operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a
separate traced run that prints the per-layer metrics and writes its
spans to ``.perfbench_traces/``. Every human-readable line goes before
the last line, which is the JSON result.

Each run works in ``.perfbench_run/<workload>-<pid>/`` inside the
checkout: generated tables, ingest files, Spark's local dirs, event
log, and a private ``TMPDIR`` for the program. The directory is
removed at the end, after counting what the program left in its
``TMPDIR``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from tracing import (  # noqa: E402
    StreamProgress,
    Tracer,
    conf_changes,
    parse_event_log,
    patch_load_table,
    percentile,
    plan_shape,
)

#: two task threads, and the JVM's collector and JIT held to about as many,
#: so that the program's threads, its Python workers and the ingest
#: generator fit a four-core host without queueing for its cores
CPUS = 2
#: maximum driver heap; not reserved up front, so peak RSS follows the
#: heap the program grows into
DRIVER_MEMORY = "1g"

#: relational keys through the noop sink (catalog, Column building,
#: planning), and a stateful stream into the memory sink (state store,
#: WAL, _run_to_memory). One mix rather than two workloads, and a
#: short one, so that every key runs several times in a run
MIX_KEYS = [
    "scan_project", "filter_pred", "agg_hash", "agg_distinct", "grouping_sets",
    "tpch_q5", "window_rank", "sort_limit_topk", "stream_dedup",
]
WORKLOADS = ["ingest_proto", "sql_stream"]
#: nominal warm pass seconds: the mix measures round(--seconds / nominal)
#: passes, at least three, so every run measures the same number of passes
#: however fast it goes. The JIT keeps warming for about three passes after
#: the checked one (4.9, 3.9, 3.4 s, then ~3.1 s on local[4]); per-key
#: medians over eight passes leave the first one or two out
NOMINAL_PASS_S = 3.5

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}
#: per-layer metric -> unit; a workload that does not do a kind of work reads 0
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    **{f"build_s.{k}": "s" for k in MIX_KEYS},
    **{f"exec_s.{k}": "s" for k in MIX_KEYS},
    "operators.build_s": "s",
    "exec.s": "s",
    "plan.plan_s": "s",
    "plan.nodes": "count",
    "plan.exchanges": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.task_skew": "ratio",
    "stream.batches": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.latestOffset_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "ingest.batches": "count",
    "ingest.files_per_batch": "count",
    "ingest.file_bytes_p50": "bytes",
    "ingest.backlog_files_max": "count",
    "ingest.rows_per_s": "1/s",
    "ingest.rows_per_s_1core": "1/s",
    "decoders.parse_us_per_record": "us",
    "decoders.null_row_frac": "ratio",
    "generator.late_s_max": "s",
    "tmp.kpws_dirs_left": "count",
    "tmp.bytes_left": "bytes",
    "conf.keys_changed": "count",
    "trace.pass_s": "s",
    "trace.coverage": "ratio",
}


class RunDir:
    """The run's private directory tree; points TMPDIR and Spark into it."""

    def __init__(self, workload: str) -> None:
        self.base = os.path.join(ROOT, ".perfbench_run", f"{workload}-{os.getpid()}")
        self.data = os.path.join(self.base, "data")
        self.tmp = os.path.join(self.base, "tmp")
        self.local = os.path.join(self.base, "local")
        self.eventlog = os.path.join(self.base, "eventlog")
        self.ingest = os.path.join(self.base, "ingest")
        for d in (self.data, self.tmp, self.local, self.eventlog, self.ingest):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )

    def leftovers(self) -> tuple[int, int]:
        """(kpws_* entries, bytes) the program left in its TMPDIR."""
        kpws = sum(1 for n in os.listdir(self.tmp) if n.startswith("kpws_"))
        size = 0
        for root, _, files in os.walk(self.tmp):
            for n in files:
                try:
                    size += os.lstat(os.path.join(root, n)).st_size
                except OSError:
                    pass
        return kpws, size

    def remove(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        parent = os.path.dirname(self.base)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


class Session:
    """SparkSession lifetime, including the JVM and its Python workers."""

    def __init__(self, run: RunDir, tracer: Tracer) -> None:
        self.run, self.tracer = run, tracer
        self.spark = None
        self.start_s = 0.0

    def conf(self) -> dict[str, str]:
        conf = {
            # no perf-data file in the system /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.run.tmp} -XX:-UsePerfData "
                "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.run.eventlog,
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start(self, cpus: int = CPUS):
        from kafka_parquet_writer_spark import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", cpus=cpus):
            self.spark = get_spark(
                "perfbench",
                cpus=cpus,
                shuffle_partitions=cpus,
                driver_memory=DRIVER_MEMORY,
                extra_conf=self.conf(),
            )
        self.start_s = time.perf_counter() - t0
        return self.spark

    def peak_rss_mb(self) -> tuple[float, str]:
        """Peak RSS of this driver process plus its JVM, and a note on the split."""
        jvm = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        driver, java = vm_hwm_mb("self"), vm_hwm_mb(jvm)
        return driver + java, f"peak_rss_mb driver={driver:.1f} jvm={java:.1f}"

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for its worker processes."""
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc  # the JVM, None when it was not started here
        kids = _children(proc.pid) if proc is not None else []
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 10
        while kids and time.time() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
            time.sleep(0.05)


def _children(pid: int) -> list[int]:
    """Child pids of a live process (its Python workers, for the JVM)."""
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail_q(n: int) -> float:
    """The highest percentile, at most p95, with ten samples above it."""
    return min(0.95, max(0.5, 1 - 10 / n))


def latencies(values: list[float]) -> dict[str, float]:
    return {
        "latency_p50_s": percentile(values, 0.50),
        "latency_tail_s": percentile(values, tail_q(len(values))),
    }


def latency_note(values: list[float]) -> str:
    return f"n={len(values)}, latency_tail_s is p{100 * tail_q(len(values)):.0f}"


class Mix:
    """A closed-loop mix of registered keys through the noop sink."""

    def __init__(
        self, spark, keys: list[str], data_dir: str, tables: list[str], tracer: Tracer
    ) -> None:
        from kafka_parquet_writer_spark.registry import QUERIES, load_all_operators

        load_all_operators()
        self.spark, self.keys, self.data_dir, self.tables = spark, keys, data_dir, tables
        self.tracer = tracer
        self.queries = QUERIES
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self) -> None:
        """Compare every key with its DuckDB oracle (also warms the session)."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from verify_oracle import compare

        from kafka_parquet_writer_spark.registry import ORACLES

        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
                )
            for k in self.keys:
                self.attempted += 1
                try:
                    sdf = self.queries[k](self.spark, self.data_dir)
                    s_rows = [tuple(r) for r in sdf.collect()]
                    res = con.execute(ORACLES[k])
                    d_cols = [d[0] for d in res.description]
                    bad = compare(sdf.columns, s_rows, d_cols, res.fetchall())
                except Exception as e:  # noqa: BLE001 - a failing key is a result
                    bad = [f"{type(e).__name__}: {e}"]
                if bad or not s_rows:
                    self.failed += 1
                    self.failures.append(f"{k}: {'; '.join(bad)[:300] or 'empty'}")
        finally:
            con.close()

    def measure(self, seed: int, n_passes: int) -> dict:
        rng = random.Random(seed)
        build = {k: [] for k in self.keys}
        execs = {k: [] for k in self.keys}
        passes, windows, plans, conf_diff = [], [], [], 0
        conf = self.spark.conf.getAll if self.tracer.enabled else None
        while len(passes) < n_passes:
            order = list(self.keys)
            rng.shuffle(order)
            w0, p0 = time.time(), time.perf_counter()
            paused = 0.0  # time spent diffing the conf, kept off the pass clock
            for k in order:
                self.attempted += 1
                try:
                    t0 = time.perf_counter()
                    with self.tracer.span("build", key=k):
                        df = self.queries[k](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    with self.tracer.span("exec", key=k):
                        if self.tracer.enabled:
                            with self.tracer.span("plan", key=k):
                                plans.append(plan_shape(df))
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                except Exception as e:  # noqa: BLE001 - a failing key is a result
                    self.failed += 1
                    self.failures.append(f"{k}: {type(e).__name__}: {str(e)[:300]}")
                    continue
                build[k].append(t1 - t0)
                execs[k].append(t2 - t1)
                if self.tracer.enabled:
                    now = self.spark.conf.getAll
                    conf_diff += conf_changes(conf, now)
                    conf = now
                    paused += time.perf_counter() - t2
            passes.append(time.perf_counter() - p0 - paused)
            windows.append((w0, time.time()))
        return {
            "passes": passes,
            "windows": windows,
            "build": build,
            "exec": execs,
            "latencies": [b + e for k in self.keys for b, e in zip(build[k], execs[k])],
            "plans": plans,
            "conf_keys_changed": conf_diff,
        }


def run_mix(args, run: RunDir, session: Session, tracer) -> tuple[dict, dict, int, int, list]:
    tables = datagen.write_tables(run.data)
    spark = session.start()
    mix = Mix(spark, MIX_KEYS, run.data, tables, tracer)
    mix.check()
    setup_s = time.perf_counter() - T_START
    progress = StreamProgress(spark) if args.trace else None
    with patch_load_table(tracer) if args.trace else contextlib.nullcontext():
        m = mix.measure(args.seed, max(3, round(args.seconds / NOMINAL_PASS_S)))
    passes = m["passes"]
    n = len(passes)
    # a typical pass: each key at its median call, so that a slow spell of
    # the host over a few calls does not move it
    key_s = {k: statistics.median(b + e for b, e in zip(m["build"][k], m["exec"][k]))
             for k in mix.keys if m["build"][k]}
    rss, rss_note = session.peak_rss_mb()
    e2e = {
        "setup_s": setup_s,
        "pass_s": sum(key_s.values()),
        **latencies(m["latencies"]),
        "peak_rss_mb": rss,
    }
    notes = [
        rss_note,
        f"pass_s={e2e['pass_s']:.4f} (sum of per-key medians over n={n} passes; "
        f"pass wall times {[round(p, 3) for p in passes]})",
        f"latency per key call: {latency_note(m['latencies'])}",
    ]
    layer: dict[str, float] = {}
    if args.trace:
        stream = progress.summary(m["windows"], n)
        progress.remove(spark)
        calls, load_s = tracer.total("catalog.load_table")
        build_tot = sum(sum(v) for v in m["build"].values())
        exec_tot = sum(sum(v) for v in m["exec"].values())
        plan_s = sum(p[0] for p in m["plans"])
        layer.update(
            {
                "session.start_s": session.start_s,
                "catalog.load_table_calls": calls / n,
                "catalog.load_table_s": load_s / n,
                **{f"build_s.{k}": statistics.median(v) for k, v in m["build"].items() if v},
                **{f"exec_s.{k}": statistics.median(v) for k, v in m["exec"].items() if v},
                "operators.build_s": build_tot / n,
                "exec.s": exec_tot / n,
                "plan.plan_s": plan_s / n,
                "plan.nodes": sum(p[1] for p in m["plans"]) / n,
                "plan.exchanges": sum(p[2] for p in m["plans"]) / n,
                **stream,
                "conf.keys_changed": m["conf_keys_changed"] / n,
                "trace.pass_s": sum(key_s.values()),
                "trace.coverage": (build_tot + exec_tot) / sum(passes),
            }
        )
        session.stop_context()
        layer.update(parse_event_log(run.eventlog, m["windows"], n))
    return e2e, layer, mix.attempted, mix.failed, notes + mix.failures


def run_ingest(args, run: RunDir, session: Session, tracer) -> tuple[dict, dict, int, int, list]:
    # imports the package under test, so only after main() checked it is there
    from ingest import IngestRun, start_generator
    from ingest_gen import BACKLOG_ROWS

    # Phase A lands files for half of --seconds; Phase B's drains take
    # about the other half
    landing_s = max(1, args.seconds // 2)
    gen = start_generator(run.ingest, args.seed, landing_s)
    try:
        spark = session.start()
        ing = IngestRun(spark, run.ingest, gen, tracer)
        ing.setup()
        setup_s = time.perf_counter() - T_START
        progress = StreamProgress(spark) if args.trace else None
        with patch_load_table(tracer) if args.trace else contextlib.nullcontext():
            a = ing.phase_a(landing_s)
            drains, windows = ing.phase_b()
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    lat = a["latencies"]
    rss, rss_note = session.peak_rss_mb()
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(drains),
        **latencies(lat),
        "peak_rss_mb": rss,
    }
    rows_per_s = BACKLOG_ROWS / e2e["pass_s"]
    notes = [
        rss_note,
        f"ingest_rows_per_s={rows_per_s:.1f} at {BACKLOG_ROWS} rows "
        f"(pass_s median of n={len(drains)} drains: {[round(d, 3) for d in drains]})",
        f"latency per landed file ({a['files']} landed): {latency_note(lat)}; "
        f"generator late_s_max={a['late_s_max']:.4f}",
    ]
    layer: dict[str, float] = {}
    if args.trace:
        stream = progress.summary([a["window"]], 1)
        progress.remove(spark)
        calls, load_s = tracer.total("catalog.load_table")
        layer.update(
            {
                "session.start_s": session.start_s,
                "catalog.load_table_calls": calls / len(drains),
                "catalog.load_table_s": load_s / len(drains),
                **stream,
                "ingest.batches": a["batches"],
                "ingest.files_per_batch": a["out_files"] / max(a["batches"], 1),
                "ingest.file_bytes_p50": a["file_bytes_p50"],
                "ingest.backlog_files_max": a["backlog_files_max"],
                "ingest.rows_per_s": rows_per_s,
                "decoders.parse_us_per_record": ing.parse_us_per_record(),
                "decoders.null_row_frac": a["null_row_frac"],
                "generator.late_s_max": a["late_s_max"],
                "trace.pass_s": e2e["pass_s"],
            }
        )
        session.stop_context()
        layer.update(parse_event_log(run.eventlog, windows, len(drains)))
        # single-threaded baseline of the same drain: one warm-up drain, then
        # the median of as many drains as on local[2]
        ing.spark = session.start(cpus=1)
        ing.drain(full_check=False)
        layer["ingest.rows_per_s_1core"] = BACKLOG_ROWS / statistics.median(ing.phase_b()[0])
    return e2e, layer, ing.attempted, ing.failed, notes


T_START = time.perf_counter()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="kafka_parquet_writer_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kafka_parquet_writer_spark", "__init__.py")):
        print("perfbench: kafka_parquet_writer_spark not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    tracer = Tracer(bool(args.trace))
    run = RunDir(args.workload)
    session = Session(run, tracer)
    try:
        runner = run_ingest if args.workload == "ingest_proto" else run_mix
        e2e, layer, attempted, failed, notes = runner(args, run, session, tracer)
        session.shutdown()
        kpws, size = run.leftovers()
    finally:
        session.shutdown()
        run.remove()
    for line in notes:
        print(line)
    if args.trace:
        # a kind of work a workload does not do reads 0
        metrics = {name: float(layer.get(name, 0.0)) for name in PER_LAYER}
        metrics["tmp.kpws_dirs_left"] = float(kpws)
        metrics["tmp.bytes_left"] = float(size)
        tracer.write(os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-{args.seed}.json"))
        units = PER_LAYER
    else:
        metrics = e2e
        units = END_TO_END
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    print(f"{args.workload} failed_frac = {failed / max(attempted, 1):.6g} ({failed}/{attempted})")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
