"""Kafka(or file) → Parquet streaming ETL: the reference's entire main
surface (SURVEY.md §2A #1-#14), re-expressed on Structured Streaming.

Mapping (reference cites are /root/reference/src/main/java/ir/sahab/
kafka/reader/KafkaProtoParquetWriter.java unless noted):

| Reference behavior | Cite | Here |
|---|---|---|
| Kafka source, byte values, manual offsets | :156-166 | `readStream.format("kafka")` (offsets via checkpoint) |
| proto parse per record | :269-277 | pluggable `decoder` (from_protobuf / wire-format `mapInArrow`: each Arrow batch framed columnar) |
| rotate by size (1 GiB default) | :282-310 | `maxRecordsPerFile` (records ≈ bytes/avg-row; documented approximation) |
| rotate by open time (900 s) | :257-302 | `trigger(processingTime=...)` — a micro-batch closes its files |
| date-dir layout `yyyy/dd` of finalize time | :362-380 | `partitionBy(year,month,...)` Hive-style from event or processing time |
| tmp-file + atomic rename | :236-241,313-346 | file-sink `_spark_metadata` commit protocol (invisible until committed) |
| at-least-once ack-after-flush | :43-44,348-353 | checkpoint + sink log ⇒ **exactly-once** (strictly stronger) |
| threadCount shard writers | :93-94,172-182 | `repartitionById` on the output dir's ordinal (+salt): consecutive dates round-robin over the tasks (a hash of the date keys split 30 dates 22 + 8 over 2 tasks), files = dirs × files_per_dir; plain `repartition(num_shards)` for flat layout |
| backpressure (bounded queue 100k) | :471,616-625 | `maxOffsetsPerTrigger` |
| infinite I/O retry | :404-446 | task retries + batch re-execution (bounded, surfaced) |
| Dropwizard metrics | :110-154 | `IngestMetrics` (StreamingQueryListener) |
| builder validation | :453-751 | `IngestConfig.validate()` |

Deliberate divergences (what-not-how): Hive-style `year=/month=/day=`
directories instead of raw `2024/01` (partition-prunable by any Spark
reader); exactly-once instead of at-least-once; no 1 ms poll loop, no
interrupt/closeLock dance — Spark's scheduler owns those concerns.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

#: reference: MIN_MAX_FILE_SIZE = 100 KiB (KafkaProtoParquetWriter.java:456)
MIN_MAX_RECORDS_PER_FILE = 100

#: directory pattern token → (partition column name, date_format pattern)
_PATTERN_TOKENS = {
    "yyyy": ("year", "yyyy"),
    "MM": ("month", "MM"),
    "dd": ("day", "dd"),
    "HH": ("hour", "HH"),
}


@dataclass
class IngestConfig:
    """Mirrors the reference Builder surface (:453-751) Spark-side."""

    target_dir: str
    checkpoint_dir: str
    instance_name: str = "writer"

    # --- source (reference #1) ---
    source_format: str = "file"  # "kafka" | "file"
    source_path: str | None = None  # file source
    source_schema: StructType | None = None
    kafka_bootstrap_servers: str | None = None
    topic_name: str | None = None
    starting_offsets: str = "earliest"
    #: reference backpressure analogue (maxQueuedRecordsInConsumer, :471)
    max_offsets_per_trigger: int | None = 100_000

    # --- decode (reference #2) ---
    decoder: Callable[[DataFrame], DataFrame] | None = None

    # --- rotation (reference #4/#5) ---
    #: ≈ maxFileOpenDurationSeconds (:464; default 900)
    trigger_seconds: int | None = 900
    #: ≈ maxFileSize (:465) expressed in records (Spark rotates by count)
    max_records_per_file: int | None = None

    # --- layout (reference #6) ---
    #: e.g. "yyyy/MM/dd"; None disables date partitioning (:488,699-712)
    directory_datetime_pattern: str | None = "yyyy/MM/dd"
    #: event-time column; None = processing time (reference uses finalize
    #: wall clock, :367 — processing time is the faithful default)
    partition_time_column: str | None = None

    # --- parquet (reference #3; ParquetFile.java:36-54) ---
    compression: str = "snappy"
    enable_dictionary: bool = True
    parquet_block_size: int | None = None

    # --- parallelism (reference #9: threadCount, :460 default 1) ---
    num_shards: int | None = None
    #: output files per date directory per micro-batch (date-partitioned
    #: sinks only). 1 = fewest files (fastest commit; rotation within a
    #: file is still governed by max_records_per_file); raise it when a
    #: single date dominates a batch and needs more write parallelism
    files_per_dir: int = 1

    extra_sink_options: dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        """Builder-style validation (reference :731-750)."""
        if not self.target_dir:
            raise ValueError("target_dir is required")
        if not self.checkpoint_dir:
            raise ValueError("checkpoint_dir is required")
        if self.source_format == "kafka":
            if not self.kafka_bootstrap_servers or not self.topic_name:
                raise ValueError("kafka source requires bootstrap servers + topic")
        elif self.source_format == "file":
            if not self.source_path or self.source_schema is None:
                raise ValueError("file source requires source_path + source_schema")
        else:
            raise ValueError(f"unknown source_format {self.source_format!r}")
        if (
            self.max_records_per_file is not None
            and self.max_records_per_file < MIN_MAX_RECORDS_PER_FILE
        ):
            raise ValueError(
                f"max_records_per_file must be ≥ {MIN_MAX_RECORDS_PER_FILE}"
            )
        if self.num_shards is not None and self.num_shards <= 0:
            raise ValueError("num_shards must be positive")
        if self.files_per_dir < 1:
            raise ValueError("files_per_dir must be ≥ 1")
        if self.trigger_seconds is not None and self.trigger_seconds <= 0:
            raise ValueError("trigger_seconds must be positive")


def _read_source(spark: SparkSession, cfg: IngestConfig) -> DataFrame:
    if cfg.source_format == "kafka":
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", cfg.kafka_bootstrap_servers)
            .option("subscribe", cfg.topic_name)
            .option("startingOffsets", cfg.starting_offsets)
            # reference forces byte-array value deserialization (:160);
            # the Kafka source's value column is already binary
            .option("failOnDataLoss", "false")
        )
        if cfg.max_offsets_per_trigger:
            reader = reader.option("maxOffsetsPerTrigger", str(cfg.max_offsets_per_trigger))
        return reader.load()
    return spark.readStream.schema(cfg.source_schema).parquet(cfg.source_path)


def partition_columns(pattern: str, time_col) -> list[tuple[str, object]]:
    """Decompose a 'yyyy/MM/dd'-style directory pattern into Hive
    partition columns (reference writes the raw formatted string as
    nested dirs, :362-380; Hive style is the prunable equivalent)."""
    cols = []
    for seg in pattern.split("/"):
        if seg not in _PATTERN_TOKENS:
            raise ValueError(
                f"unsupported pattern segment {seg!r}; use {list(_PATTERN_TOKENS)}"
            )
        name, fmt = _PATTERN_TOKENS[seg]
        cols.append((name, F.date_format(time_col, fmt)))
    return cols


def shard_id(
    pattern: str, time_col, src_cols: list, n: int, files_per_dir: int
):
    """Write-task id in [0, n) of each row of a date-partitioned sink.

    Event time: an ordinal of the row's output directory at its finest
    pattern token (``dd`` → ``unix_date``, ``HH`` → hours since the
    epoch, ``MM`` → ``year*12+month``, ``yyyy`` → year; a coarser token
    missing from the pattern is pinned, so the ordinal is a function of
    the directory alone), times ``files_per_dir``, plus a row-hash salt
    in [0, files_per_dir) (0 without a hash when ``files_per_dir`` is
    1), mod n. Each (directory, salt) goes to exactly
    one task, and consecutive directories go round-robin over the tasks.
    Processing time (``time_col`` None): the date is constant within a
    batch, so the salt alone, in [0, n), spreads the rows.
    """
    if time_col is None:
        return F.pmod(F.xxhash64(*src_cols), F.lit(n)).cast("int")
    tokens = pattern.split("/")
    # 2000 is a leap year: a pinned year still admits 29 February
    year = F.year(time_col) if "yyyy" in tokens else F.lit(2000)
    month = F.month(time_col) if "MM" in tokens else F.lit(1)
    day = F.dayofmonth(time_col) if "dd" in tokens else F.lit(1)
    days = F.unix_date(F.make_date(year, month, day))
    if "HH" in tokens:
        ordinal = days * 24 + F.hour(time_col)
    elif "dd" in tokens:
        ordinal = days
    elif "MM" in tokens:
        ordinal = year * 12 + month
    else:
        ordinal = year
    # a null time (Hive's default-partition dir) takes ordinal 0, so its
    # rows still spread by salt instead of all landing on task 0
    ordinal = F.coalesce(ordinal.cast("long"), F.lit(0))
    # one file per directory: the salt is 0, so no row hash to compute
    salt = (
        F.lit(0)
        if files_per_dir == 1
        else F.pmod(F.xxhash64(*src_cols), F.lit(files_per_dir))
    )
    return F.pmod(ordinal * files_per_dir + salt, F.lit(n)).cast("int")


def build_pipeline(spark: SparkSession, cfg: IngestConfig) -> DataFrame:
    """source → decode → partition columns → shard (inert until start).

    For date-partitioned sinks the shard step routes each output
    directory's rows to one task (``shard_id``): files per micro-batch =
    dirs × files_per_dir, independent of the source's split count.
    Without this, every source task writes a file into every directory
    it sees — tasks × dirs small files whose commit+footer overhead
    dominates the write (measured 183k → 395k rows/s at 30 dirs on
    local[32]). The directory ordinal spreads consecutive dates
    round-robin over the tasks; hashing the (year, month, day) keys
    instead split the 30 dates of January 2024 22 + 8 over 2 tasks, so
    one write task had nearly three times the other's directories.
    With the ordinal, plus the worker daemon and serial listing of
    session.py, a 100 k-row 30-day drain on local[2] went 1.42–1.51 →
    1.08–1.14 s. Intra-file size rotation remains maxRecordsPerFile's
    job. Processing-time partitioning (batch-constant date) is salted
    across num_shards tasks instead.
    """
    cfg.validate()
    df = _read_source(spark, cfg)
    if cfg.decoder is not None:
        df = cfg.decoder(df)
    if cfg.directory_datetime_pattern:
        src_cols = [F.col(c) for c in df.columns]
        time_col = (
            F.col(cfg.partition_time_column)
            if cfg.partition_time_column
            else F.current_timestamp()
        )
        for name, expr in partition_columns(cfg.directory_datetime_pattern, time_col):
            df = df.withColumn(name, expr)
        n = cfg.num_shards or spark.sparkContext.defaultParallelism
        event_time = time_col if cfg.partition_time_column else None
        df = df.repartitionById(
            n,
            shard_id(
                cfg.directory_datetime_pattern, event_time, src_cols, n, cfg.files_per_dir
            ),
        )
    elif cfg.num_shards:
        df = df.repartition(cfg.num_shards)
    return df


def _sink_options(cfg: IngestConfig) -> dict[str, str]:
    opts = {
        "path": cfg.target_dir,
        "checkpointLocation": cfg.checkpoint_dir,
        "compression": cfg.compression,
        # ParquetFile.java:48-50 — dictionary encoding toggle
        "parquet.enable.dictionary": str(cfg.enable_dictionary).lower(),
    }
    if cfg.max_records_per_file:
        opts["maxRecordsPerFile"] = str(cfg.max_records_per_file)
    if cfg.parquet_block_size:
        opts["parquet.block.size"] = str(cfg.parquet_block_size)
    opts.update(cfg.extra_sink_options)
    return opts


def _writer(spark: SparkSession, cfg: IngestConfig) -> DataStreamWriter:
    """The pipeline's parquet ``writeStream``, all but its trigger."""
    writer = build_pipeline(spark, cfg).writeStream.format("parquet").outputMode("append")
    for k, v in _sink_options(cfg).items():
        writer = writer.option(k, v)
    if cfg.directory_datetime_pattern:
        writer = writer.partitionBy(
            *[name for name, _ in partition_columns(cfg.directory_datetime_pattern, F.lit(0))]
        )
    return writer


def start_ingest(spark: SparkSession, cfg: IngestConfig) -> StreamingQuery:
    """Continuous mode: processing-time trigger ≈ max-file-open-duration."""
    writer = _writer(spark, cfg)
    if cfg.trigger_seconds:
        writer = writer.trigger(processingTime=f"{cfg.trigger_seconds} seconds")
    return writer.queryName(f"ingest_{cfg.instance_name}").start()


def ingest_once(spark: SparkSession, cfg: IngestConfig) -> None:
    """Drain everything available and stop (availableNow) — the test/
    backfill mode; same pipeline, bounded execution."""
    q = _writer(spark, cfg).trigger(availableNow=True).queryName(
        f"ingest_once_{cfg.instance_name}"
    ).start()
    q.awaitTermination()


class IngestMetrics:
    """Reference #12 (Dropwizard meters :110-154) → StreamingQueryListener.

    Tracks written-record counts per query; ``written_records`` mirrors
    the reference's ``getWrittenRecords()`` getter (:199-211). With a
    ``target_dir``, also tracks the size of every committed parquet
    file — the reference's closed-file-size ``Histogram``
    (:110-121,146-154) — exposed via ``file_size_histogram()``. Sizes
    come from the sink's own commit log, so a progress event reads only
    the log entries of the batches committed since the last one: its
    cost does not grow with the table, and files the sink never
    committed are not counted.
    """

    def __init__(self, spark: SparkSession, target_dir: str | None = None) -> None:
        import threading

        from pyspark.sql.streaming import StreamingQueryListener

        metrics = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                metrics.written_records += p.sink.numOutputRows or 0
                metrics.batches += 1
                metrics._scan_files()

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.written_records = 0
        self.batches = 0
        self.target_dir = target_dir
        self.file_sizes: list[int] = []
        #: next sink-log batch to read (None until the log exists) and
        #: the number of log entries read so far
        self._next_batch: int | None = None
        self._log_entries = 0
        self._lock = threading.Lock()
        self._listener = _L()
        spark.streams.addListener(self._listener)

    def _scan_files(self) -> None:
        """Record sizes of newly committed data files from the sink's
        ``_spark_metadata`` log: one file per batch (``<batchId>``), and
        every compaction interval a ``<batchId>.compact`` holding all
        entries up to that batch, the batch's own last. Also invoked
        lazily by file_size_histogram(), so readers never race the
        (async) listener thread for the final batch."""
        if not self.target_dir:
            return
        import json
        import os

        log = os.path.join(self.target_dir, "_spark_metadata")
        with self._lock:
            if self._next_batch is None:
                # first read: the newest compaction already holds every
                # earlier entry (older batch files may be cleaned up)
                if not os.path.isdir(log):
                    return
                self._next_batch = max(
                    (
                        int(name[: -len(".compact")])
                        for name in os.listdir(log)
                        if name.endswith(".compact")
                        and name[: -len(".compact")].isdigit()
                    ),
                    default=0,
                )
            while True:
                path = os.path.join(log, str(self._next_batch))
                # skip the version line, and in a compaction the
                # entries already read from earlier batches
                for name, skip in ((path, 1), (path + ".compact", 1 + self._log_entries)):
                    try:
                        with open(name) as f:
                            lines = f.read().splitlines()[skip:]
                        break
                    except FileNotFoundError:
                        continue
                else:
                    return
                for line in lines:
                    if line.strip():
                        entry = json.loads(line)
                        self._log_entries += 1
                        if entry.get("action", "add") == "add" and not entry.get("isDir"):
                            self.file_sizes.append(entry["size"])
                self._next_batch += 1

    def file_size_histogram(self) -> dict[str, float]:
        """Dropwizard-Snapshot-shaped summary of committed file sizes."""
        self._scan_files()
        if not self.file_sizes:
            return {"count": 0}
        s = sorted(self.file_sizes)
        n = len(s)

        def pct(q: float) -> int:
            return s[min(n - 1, int(q * n))]

        return {
            "count": n,
            "min": s[0],
            "max": s[-1],
            "mean": sum(s) / n,
            "p50": pct(0.50),
            "p95": pct(0.95),
            "p99": pct(0.99),
        }

    def remove(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self._listener)
