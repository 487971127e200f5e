"""Catalog: named access to the at-rest Parquet tables.

Mirrors the reference's "table" notion — a directory of Parquet files
(`KafkaProtoParquetWriter.java:81-82,362-380`) — as Spark-readable paths.
Reads are ``spark.read.schema(...).parquet`` so Catalyst gets predicate
pushdown + column pruning on every downstream query for free. The schema
comes from ``table_schema``: Spark's own inferred schema, memoized per
(real path, stat fingerprint, schema-conversion confs), so a warm read
plans without the footer-merging inference job a bare
``spark.read.parquet`` launches on every call.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: dimension tables small enough to broadcast at any realistic scale
#: (region=5 rows fixed, nation=25 rows fixed; supplier scales but slowly)
BROADCASTABLE = {"region", "nation", "supplier"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: SQL confs that change how a Parquet footer converts to a Spark schema;
#: their current values are part of the schema memo key
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
_SCHEMA_MEMO_CAP = 64
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_lock = threading.Lock()


def _stat_key(st: os.stat_result) -> tuple:
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _fingerprint(path: str) -> tuple:
    """Stat fingerprint of a table: the file's stat key, or for a
    directory the sorted (relative name, stat key) of every file under
    it (partition subdirectories included; symlinks followed)."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return _stat_key(st)
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            entries.append((os.path.relpath(full, path), _stat_key(os.stat(full))))
    return tuple(sorted(entries))


def table_schema(spark: SparkSession, path: str) -> StructType:
    """Spark's inferred schema of the Parquet table at ``path``, inferred
    once per (real path, stat fingerprint, SCHEMA_CONFS values).

    A rewrite at the same path changes the fingerprint, and a conf flip
    changes the key, so either re-infers. The memo is a locked LRU of at
    most ``_SCHEMA_MEMO_CAP`` Python ``StructType``s; it holds no JVM
    handle, so it stays valid across SparkContext restarts. Callers must
    not mutate the returned schema."""
    key = (
        os.path.realpath(path),
        _fingerprint(path),
        tuple(spark.conf.get(c) for c in SCHEMA_CONFS),
    )
    with _schema_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
            return schema
    # infer outside the lock: a racing caller at worst infers twice
    schema = spark.read.parquet(path).schema
    with _schema_lock:
        _schema_memo[key] = schema
        _schema_memo.move_to_end(key)
        while len(_schema_memo) > _SCHEMA_MEMO_CAP:
            _schema_memo.popitem(last=False)
    return schema


def ensure_nanos_readable(spark: SparkSession) -> None:
    """Make INT64 TIMESTAMP(NANOS) parquet columns readable on *any*
    session, not just the one built by session.get_spark.

    ``spark.sql.legacy.parquet.nanosAsLong`` is a runtime-settable SQL
    conf; without it `spark.read.parquet` on events.parquet throws
    PARQUET_TYPE_ILLEGAL. The driver constructs its own SparkSession,
    so this must be applied at read time, not session-build time.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_nanos(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to a proper ``TIMESTAMP`` regardless of
    how the fixture materializes it:

    - INT64 TIMESTAMP(NANOS) read under ``nanosAsLong`` → LongType; convert
      with truncating ns→µs division (matches DuckDB's read behavior).
    - parquet ``timestamp[us]`` without timezone → TimestampNTZType; the
      session timezone is pinned UTC, so a plain cast to TIMESTAMP preserves
      the wall-clock values and matches DuckDB.

    The fixture has changed shape between rounds; this normalizer is total
    over every form observed so downstream ``unix_micros``/``withWatermark``
    usage never sees a non-TIMESTAMP event-time column.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for field in df.schema.fields:
        if field.name == "ts":
            if isinstance(field.dataType, LongType):
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif isinstance(field.dataType, TimestampNTZType):
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_nanos_readable(spark)
    path = table_path(sf_dir, name)
    return normalize_nanos(spark.read.schema(table_schema(spark, path)).parquet(path))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL API)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
