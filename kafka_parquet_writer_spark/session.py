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

Three defaults cut the fixed cost of every micro-batch:

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
- ``file:`` paths go through ``jvm/ForkFreeLocal.java``. Without
  Hadoop's native library (this pyspark ships none) the stock local
  filesystem starts a ``chmod`` process for every file and directory it
  creates and a ``readlink`` for both sides of every FileContext
  rename, which commits each offset-log, commit-log, state-store and
  sink-metadata file: a 300-row ``ingest_once`` drain plus one
  ``stream_dedup`` started 88 ``chmod`` and 216 ``readlink``. Through
  py4j, stock → shim: ``create``+``close`` 8.9 → 1.1 ms, ``mkdirs``
  4.2 → 0.5 ms, ``setPermission`` 7.0 → 0.3 ms, ``getFileLinkStatus``
  3.8 → 0.3 ms. The shim keeps checksum files, permission bits and
  rename results. It goes on the driver class path only when the Spark
  that pyspark launches has the ``hadoop-client-api`` the jar was built
  against, and a JVM already running without it gets none of its confs.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from kafka_parquet_writer_spark.artifacts import scratch_root

#: the directory holding this package, for the Python workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the hadoop-client-api version the fork-free filesystem jar was built
#: against (``jvm/build.py`` names the jar after it)
_FS_JAR_HADOOP = "3.4.2"
_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "jvm",
    f"forkfree-localfs-hadoop-{_FS_JAR_HADOOP}.jar",
)
_FS_CLASS = "kpws.fs.ForkFreeLocal$"
_CLASS_PATH = "spark.driver.extraClassPath"


def _fork_free_fs_conf() -> dict[str, str]:
    """The confs that put ``file:`` on the fork-free filesystem, or none
    of them: when the jar is missing, the Spark pyspark launches has
    another ``hadoop-client-api``, or a JVM is already up without it."""
    api = os.path.join(_find_spark_home(), "jars", f"hadoop-client-api-{_FS_JAR_HADOOP}.jar")
    if not (os.path.isfile(_FS_JAR) and os.path.isfile(api)):
        return {}
    jvm = SparkContext._jvm
    if jvm is not None and not jvm.org.apache.spark.util.Utils.classIsLoadable(
        _FS_CLASS + "Local"
    ):
        return {}
    return {
        _CLASS_PATH: _FS_JAR,
        "spark.hadoop.fs.file.impl": _FS_CLASS + "Local",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": _FS_CLASS + "LocalFs",
    }


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
        # managed tables (bucketing demos/tests) land in the per-process
        # scratch root, not cwd: removed at exit, and apart from other
        # processes' (in-memory catalog, files outlive the session)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", os.path.join(scratch_root(), "warehouse")
            ),
        )
        # the events fixture carries TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long and convert in catalog._normalize (ns→µs
        # truncation — matches DuckDB's TIMESTAMP_NS→TIMESTAMP behavior)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    conf = _fork_free_fs_conf()
    for k, v in (extra_conf or {}).items():
        conf[k] = os.pathsep.join((conf[k], v)) if k == _CLASS_PATH and k in conf else v
    for k, v in conf.items():
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
