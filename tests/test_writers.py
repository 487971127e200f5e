"""Size-targeted parquet writer: measured bytes/row drives
maxRecordsPerFile; file sizes land near the target (looser than the
reference's (0.9, 1.01) band — sampling estimate vs post-write check)."""

import glob
import os

from tests.conftest import SF_SMOKE
from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.sources.writers import (
    calibrate_file_sizing,
    measure_row_bytes,
    write_parquet_sized,
)


def _files(d):
    return [
        p
        for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        if not os.path.basename(p).startswith(("_", "."))
    ]


def test_measure_row_bytes_positive(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    rb = measure_row_bytes(ev, sample_rows=2000)
    assert 1.0 <= rb <= 10_000.0


def test_sized_write_hits_target_band(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # single partition so maxRecordsPerFile is the only splitter
    ev = ev.coalesce(1)
    d = str(tmp_path / "out")
    rb = measure_row_bytes(ev)
    target = max(1, int(rb * ev.count() / 4))  # aim for ~4 files
    write_parquet_sized(ev, d, target_file_bytes=target, row_bytes=rb)
    files = _files(d)
    assert len(files) >= 2  # the target forced rotation
    sizes = [os.path.getsize(f) for f in files]
    # all but the tail file within a generous band of the target
    for s in sorted(sizes, reverse=True)[:-1]:
        assert 0.4 * target <= s <= 2.5 * target, sizes


def test_calibrated_sizing_hits_reference_accuracy_band(spark, tmp_path):
    """Byte-accuracy parity with the reference's own rotation test
    (KafkaProtoParquetWriterTest.java:181-187): every complete
    (non-tail) file within (0.9, 1.01)× of the byte target, using the
    two-point (slope, intercept) calibration instead of a single
    bytes/row estimate."""
    ev = load_table(spark, SF_SMOKE, "events").coalesce(1)
    n = ev.count()
    slope, intercept = calibrate_file_sizing(ev, sample_rows=n)
    assert slope >= 1.0 and intercept >= 0.0
    target = int(slope * n / 4 + intercept)  # aim for ~4 files
    d = str(tmp_path / "out")
    write_parquet_sized(
        ev, d, target_file_bytes=target,
        row_bytes=slope, file_overhead_bytes=intercept,
    )
    sizes = sorted((os.path.getsize(f) for f in _files(d)), reverse=True)
    assert len(sizes) >= 3
    for s in sizes[:-1]:  # tail file holds the remainder, any size
        assert 0.9 * target <= s <= 1.01 * target, sizes


def test_sized_write_round_trip(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "value")
    d = str(tmp_path / "out")
    write_parquet_sized(ev, d, target_file_bytes=1 << 20)
    back = spark.read.parquet(d)
    assert sorted(r["event_id"] for r in back.collect()) == sorted(
        r["event_id"] for r in ev.collect()
    )


def test_finalize_file_names_reference_scheme(spark, tmp_path):
    """Renamed files follow <timestamp>_<instance>_<shard>.parquet
    (KafkaProtoParquetWriter.java:55) and stay readable, including
    under Hive partition directories."""
    import re

    from kafka_parquet_writer_spark.sources.writers import finalize_file_names

    df = spark.range(100).selectExpr("id", "id % 2 AS p")
    out = str(tmp_path / "out")
    df.repartition(2).write.partitionBy("p").mode("overwrite").parquet(out)

    renamed = finalize_file_names(out, "writerA", timestamp_ms=1700000000000)
    assert renamed
    pat = re.compile(r"^1700000000000_writerA_\d+\.parquet$")
    import os

    for rel in renamed:
        assert pat.match(os.path.basename(rel)), rel
        assert rel.startswith("p=")  # partition dirs preserved
    # shard indices restart per directory (per-writer numbering)
    by_dir = {}
    for rel in renamed:
        d, b = os.path.split(rel)
        by_dir.setdefault(d, []).append(b)
    for d, names in by_dir.items():
        idx = sorted(int(n.split("_")[2].split(".")[0]) for n in names)
        assert idx == list(range(len(idx)))
    # still a valid parquet dataset
    assert spark.read.parquet(out).count() == 100

    # datetime-pattern variant (fileDateTimePattern)
    out2 = str(tmp_path / "out2")
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(out2)
    renamed2 = finalize_file_names(
        out2, "w", timestamp_ms=1700000000000, date_time_pattern="%Y%m%d-%H%M"
    )
    assert renamed2 == ["20231114-2213_w_0.parquet"]
