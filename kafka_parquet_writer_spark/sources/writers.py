"""Batch parquet writer with size-targeted output files.

The reference rotates files at ``maxFileSize`` bytes (default 1 GiB,
`KafkaProtoParquetWriter.java:465`, checked post-write at `:282-286` so
files may slightly overshoot). Spark has no byte-threshold trigger; the
faithful Spark-side approximation is ``maxRecordsPerFile`` with the
record count derived from a MEASURED bytes-per-row — a small sample is
encoded to parquet first, because at-rest size depends on encoding and
compression and cannot be derived from the logical schema. Same
philosophy as the reference's accuracy contract (its own test accepts
(0.9×, 1.01×) of the target, `KafkaProtoParquetWriterTest.java:181-187`);
the sampling estimate is looser but scale-free: one tiny extra job,
regardless of input size.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from kafka_parquet_writer_spark.artifacts import scratch
from kafka_parquet_writer_spark.streaming.maintenance import dir_parquet_bytes

#: reference maxFileSize default (KafkaProtoParquetWriter.java:465)
DEFAULT_TARGET_FILE_BYTES = 1 << 30
SAMPLE_ROWS = 10_000


def measure_row_bytes(
    df: DataFrame, sample_rows: int = SAMPLE_ROWS, compression: str = "snappy"
) -> float:
    """At-rest parquet bytes per row, measured by encoding a sample.

    Uses ``limit`` (first rows, no shuffle) — biased if early rows are
    atypical, which is the accepted tradeoff for not scanning the
    input twice. The probe dir is removed once measured."""
    d = scratch("kpws_rowprobe_")
    sample = df.limit(sample_rows)
    sample.write.mode("overwrite").option("compression", compression).parquet(d)
    n, size = sample.count(), dir_parquet_bytes(d)
    shutil.rmtree(d)
    return max(1.0, size / n) if n else 1.0


def calibrate_file_sizing(
    df: DataFrame,
    sample_rows: int = SAMPLE_ROWS,
    compression: str = "snappy",
) -> tuple[float, float]:
    """(marginal bytes per row, fixed bytes per file), by linear fit.

    A parquet file's size is ≈ ``rows × slope + intercept``: the
    intercept (dictionary pages, column-chunk metadata, footer) is a
    per-FILE constant, so a single aggregate bytes/row figure
    systematically overshoots small files. Two sample writes at
    different ``maxRecordsPerFile`` give both coefficients; with them
    ``write_parquet_sized`` lands inside the reference's own accuracy
    band ((0.9, 1.01)×, `KafkaProtoParquetWriterTest.java:181-187`) —
    see tests/test_writers.py. Cost: two tiny jobs, input-size-free.
    """
    import glob

    sample = df.limit(sample_rows).coalesce(1).cache()
    n = sample.count()
    if n < 4:
        sample.unpersist()
        return max(1.0, measure_row_bytes(df, sample_rows, compression)), 0.0
    points = []
    for rows_per_file in (n, max(2, n // 4)):
        d = scratch("kpws_sizeprobe_")
        (
            sample.write.mode("overwrite")
            .option("compression", compression)
            .option("maxRecordsPerFile", str(rows_per_file))
            .parquet(d)
        )
        files = [
            p
            for p in glob.glob(os.path.join(d, "*.parquet"))
            if not os.path.basename(p).startswith(("_", "."))
        ]
        points.append((n / len(files), dir_parquet_bytes(d) / len(files)))
        shutil.rmtree(d)
    sample.unpersist()
    (r1, s1), (r2, s2) = points
    if r1 == r2:
        return max(1.0, s1 / r1), 0.0
    slope = (s1 - s2) / (r1 - r2)
    intercept = s1 - r1 * slope
    return max(1.0, slope), max(0.0, intercept)


def write_parquet_sized(
    df: DataFrame,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    partition_by: list[str] | None = None,
    compression: str = "snappy",
    row_bytes: float | None = None,
    file_overhead_bytes: float = 0.0,
) -> int:
    """Write ``df`` as parquet with files of ≈``target_file_bytes``.

    Returns the ``maxRecordsPerFile`` used. Pass ``row_bytes`` (and
    optionally ``file_overhead_bytes``, both from
    ``calibrate_file_sizing`` or a previous run's metrics) to skip the
    sampling job and get reference-band accuracy; the default single
    sample estimate is looser (it folds per-file overhead into the
    per-row rate)."""
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    if row_bytes is None:
        row_bytes = measure_row_bytes(df, compression=compression)
    usable = max(1.0, target_file_bytes - file_overhead_bytes)
    max_records = max(1, int(usable / row_bytes))
    writer = (
        df.write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", str(max_records))
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return max_records


def finalize_file_names(
    out_dir: str,
    instance_name: str,
    timestamp_ms: int | None = None,
    date_time_pattern: str | None = None,
    extension: str = ".parquet",
) -> list[str]:
    """Rename Spark part-files to the reference's finalized-file scheme
    ``<timestamp>_<instanceName>_<shardIndex><ext>``
    (`KafkaProtoParquetWriter.java:55,313-320`: epoch-millis by default,
    or a strftime-style ``date_time_pattern``; shard index = the
    writer's ordinal, here the part-file ordinal).

    Runs AFTER the write commits — Spark's own temp-file protocol has
    already made the data visible atomically, so this is pure cosmetic
    parity for downstream consumers that parse the reference's names.
    Recurses into Hive partition directories (shard index restarts per
    directory, matching per-writer numbering). Skips non-data files
    (_SUCCESS, checksums). Returns the new relative paths.
    """
    import time as _time

    ts = int(_time.time() * 1000) if timestamp_ms is None else timestamp_ms
    if date_time_pattern is not None:
        from datetime import datetime, timezone

        stamp = datetime.fromtimestamp(ts / 1000, tz=timezone.utc).strftime(
            date_time_pattern
        )
    else:
        stamp = str(ts)
    renamed = []
    for root, _dirs, names in os.walk(out_dir):
        shard = 0
        for name in sorted(names):
            if not name.endswith(".parquet") or not name.startswith("part-"):
                continue
            final = f"{stamp}_{instance_name}_{shard}{extension}"
            os.replace(os.path.join(root, name), os.path.join(root, final))
            renamed.append(
                os.path.relpath(os.path.join(root, final), out_dir)
            )
            shard += 1
    return renamed
