"""SparkSession factory with scale-aware defaults.

Local-mode testing stands in for a multi-executor cluster; every config
here is chosen to also be correct at 1000-executor / 100 TB scale:

- AQE on (runtime join re-selection, skew-join splitting, partition
  coalescing) — the single most important knob for unpredictable data.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this would be ~2-3× total cores (or left to AQE's
  ``coalescePartitions`` with a high initial value).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are deployment-independent.
- Arrow enabled so any pandas-UDF path is vectorized batch transfer.

Two defaults cut the fixed cost of every micro-batch:

- ``spark.python.daemon.module`` is this package's ``daemon`` module:
  Python workers import the installed pyspark instead of
  ``pyspark.zip``, so the ``importlib.invalidate_caches()`` each task
  starts with no longer re-reads the zip and jar directories (a no-op
  one-task Python job: 250 → 135 ms). The package root goes on
  ``spark.executorEnv.PYTHONPATH`` so workers find the module whatever
  the driver's working directory.
- ``spark.sql.sources.parallelPartitionDiscovery.threshold`` is out of
  reach: above it (default 32 paths) a file listing runs as a Spark job
  with one task per path, which every trigger of a file stream with
  more than 32 new files paid: the median ``ingest_proto`` trigger spent
  1.1 s outside ``addBatch``, and 70 ms with serial listing. ``get_spark``
  only builds ``local[...]`` sessions, where that job buys no I/O
  parallelism.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: the directory holding this package, for the Python workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "kafka_parquet_writer_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``; memory to
    ``$SPARK_GRAFT_DRIVER_MEM`` or ``12g`` (local mode = driver-only JVM).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    if shuffle_partitions is None:
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(env_cpus) if env_cpus and env_cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        .config("spark.python.daemon.module", "kafka_parquet_writer_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # managed tables (bucketing demos/tests) land in /tmp, not cwd;
        # per-process dir so orphaned locations from a previous run
        # (in-memory catalog, files outlive the session) can't collide
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(
                    tempfile.gettempdir(), f"kpws_warehouse_{os.getpid()}"
                ),
            ),
        )
        # the events fixture carries TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long and convert in catalog._normalize (ns→µs
        # truncation — matches DuckDB's TIMESTAMP_NS→TIMESTAMP behavior)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def repartition_for_compute(df, *cols):
    """Hash-repartition with an EXPLICIT partition count for stages whose
    per-row compute (hashing, tokenize/explode, vector math, pandas
    UDFs) dominates their byte size.

    The explicit count matters: ``repartition(col)`` without one is
    AQE-coalescible, and for byte-wise-tiny-but-CPU-heavy stages AQE
    happily coalesces to one partition and serializes the work. Using
    ``spark.sql.shuffle.partitions`` keeps the distribution identical to
    what a downstream groupBy on the same key requires, so that exchange
    is elided."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)
