"""Reference-faithful ETL tests (SURVEY.md §5.2), adopting the
reference's own test strategy: round-trip multiset equality
(`KafkaProtoParquetWriterTest.java:134-136` containsInAnyOrder),
directory-layout assertions (`:194-227`), and rotation bounds
(`:139-188`) — re-expressed for the Structured Streaming pipeline.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from kafka_parquet_writer_spark.catalog import (
    load_table,
    normalize_nanos,
    table_path,
)
from kafka_parquet_writer_spark.sources.decoders import (
    encode_wire_format,
    parse_wire_format,
    wire_format_decoder,
)
from kafka_parquet_writer_spark.streaming.ingest import (
    IngestConfig,
    build_pipeline,
    ingest_once,
    partition_columns,
    shard_id,
)


def _staged_events_dir(spark, sf_dir, tmp):
    src = table_path(sf_dir, "events")
    d = os.path.join(tmp, "src")
    os.mkdir(d)
    os.symlink(src, os.path.join(d, "events.parquet"))
    schema = spark.read.parquet(src).schema
    return d, schema


def _cfg(spark, sf_dir, tmp, **over):
    """An ingest config over a staged copy of the events table, with
    its source, output and checkpoint dirs under ``tmp``."""
    src_dir, schema = _staged_events_dir(spark, sf_dir, tmp)
    base = dict(
        target_dir=os.path.join(tmp, "out"),
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        source_format="file",
        source_path=src_dir,
        source_schema=schema,
        trigger_seconds=None,
        directory_datetime_pattern=None,
    )
    base.update(over)
    return IngestConfig(**base)


def test_roundtrip_multiset_equality(spark, sf_dir, tmp_path):
    """Everything sent comes back, order-insensitive — the reference's
    core invariant (containsInAnyOrder, :136)."""
    cfg = _cfg(spark, sf_dir, str(tmp_path))
    ingest_once(spark, cfg)
    src = load_table(spark, sf_dir, "events")
    out = spark.read.parquet(cfg.target_dir)
    # ts was written as raw nanos long (nanosAsLong read) — compare on
    # the stable columns plus row count
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    assert out.count() == src.count()
    assert src.select(*cols).exceptAll(out.select(*cols)).count() == 0
    assert out.select(*cols).exceptAll(src.select(*cols)).count() == 0


def test_partitioned_directory_layout(spark, sf_dir, tmp_path):
    """Date-partitioned layout from event time (reference #6, :362-380,
    Hive-style here); every row lands in exactly one partition whose
    value matches its own timestamp (totality)."""
    cfg = _cfg(
        spark,
        sf_dir,
        str(tmp_path),
        directory_datetime_pattern="yyyy/MM/dd",
        partition_time_column="ts_event",
    )

    # pre-decode step: normalize ts (fixture-form-agnostic: long-nanos
    # or TIMESTAMP_NTZ) and expose it as the partition-time column
    def decode(df):
        return normalize_nanos(df).withColumn("ts_event", F.col("ts"))

    cfg.decoder = decode
    ingest_once(spark, cfg)

    part_dirs = glob.glob(os.path.join(cfg.target_dir, "year=*/month=*/day=*"))
    assert part_dirs, "expected Hive-style date partitions"
    out = spark.read.parquet(cfg.target_dir)
    src_n = load_table(spark, sf_dir, "events").count()
    assert out.count() == src_n
    # partition directory values come back type-inferred (ints)
    mismatch = out.filter(
        (F.year("ts_event") != F.col("year").cast("int"))
        | (F.month("ts_event") != F.col("month").cast("int"))
        | (F.dayofmonth("ts_event") != F.col("day").cast("int"))
    ).count()
    assert mismatch == 0


#: 30 consecutive output directories per pattern, 3 rows in each
_DIR_SEQUENCES = {
    "yyyy/MM/dd": ("29 DAY", "1 DAY"),
    "yyyy/MM/dd/HH": ("29 HOUR", "1 HOUR"),
    "yyyy/MM": ("29 MONTH", "1 MONTH"),
}


@pytest.mark.parametrize("n", [2, 3, 4])
@pytest.mark.parametrize("pattern", list(_DIR_SEQUENCES))
def test_shard_id_spreads_consecutive_dirs_round_robin(spark, pattern, n):
    """Each directory goes to one write task, and 30 consecutive
    directories (crossing a day, month or year boundary) give every
    task ⌊30/n⌋ or ⌈30/n⌉ of them."""
    span, step = _DIR_SEQUENCES[pattern]
    df = spark.sql(
        f"""SELECT t, k FROM range(3) AS r(k) CROSS JOIN (
              SELECT explode(sequence(TIMESTAMP'2024-01-17 05:00:00',
                                      TIMESTAMP'2024-01-17 05:00:00' + INTERVAL {span},
                                      INTERVAL {step})) AS t)"""
    )
    sid = shard_id(pattern, F.col("t"), [F.col("t"), F.col("k")], n, 1)
    dirs = partition_columns(pattern, F.col("t"))
    rows = (
        df.repartitionById(n, sid)
        .select(F.spark_partition_id().alias("p"), *[e.alias(name) for name, e in dirs])
        .distinct()
        .collect()
    )
    tasks_of = {}
    for r in rows:
        tasks_of.setdefault(tuple(r[name] for name, _ in dirs), set()).add(r.p)
    assert len(tasks_of) == 30
    assert all(len(ps) == 1 for ps in tasks_of.values())
    per_task = [sum(p in ps for ps in tasks_of.values()) for p in range(n)]
    assert set(per_task) <= {30 // n, -(-30 // n)}, per_task


def test_shard_id_processing_time_spreads_rows_over_all_tasks(spark):
    """Processing time: one directory per batch, so the row salt alone
    picks the task; every task gets a near-equal share."""
    n = 4
    df = spark.range(1000).withColumn("v", F.col("id") * 7)
    sid = shard_id("yyyy/MM/dd", None, [F.col("id"), F.col("v")], n, 1)
    counts = {
        r.p: r["count"]
        for r in df.repartitionById(n, sid)
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    }
    assert sorted(counts) == list(range(n))
    assert min(counts.values()) >= 0.8 * 1000 / n, counts


@pytest.mark.parametrize("files_per_dir", [1, 2])
def test_shard_exchange_hashes_rows_only_to_salt_files_per_dir(
    spark, tmp_path, files_per_dir
):
    """The salt is 0 with one file per directory, so the shard exchange
    of the pipeline computes no row hash then."""
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    (tmp_path / "src").mkdir()
    cfg = IngestConfig(
        target_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_path=str(tmp_path / "src"),
        source_schema=StructType(
            [StructField("ts", TimestampType()), StructField("v", LongType())]
        ),
        trigger_seconds=None,
        partition_time_column="ts",
        files_per_dir=files_per_dir,
        num_shards=2,
    )
    plan = build_pipeline(spark, cfg)._jdf.queryExecution().analyzed()
    [exchange] = [
        line for line in plan.toString().splitlines() if "RepartitionByExpression" in line
    ]
    assert ("xxhash64" in exchange) == (files_per_dir > 1), exchange


@pytest.mark.parametrize("files_per_dir", [1, 2])
def test_drain_writes_files_per_dir_into_every_date_dir(spark, tmp_path, files_per_dir):
    """files per batch = dirs × files_per_dir on a real ``ingest_once``
    drain: 30 dates × 40 rows plus 40 rows with no time, one batch;
    every date directory, the default-partition one too, holds exactly
    ``files_per_dir`` files and all rows come back."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 17, 5, tzinfo=dt.timezone.utc)
    ts = [t0 + dt.timedelta(days=i // 40, minutes=i % 40) for i in range(1200)]
    ts += [None] * 40
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us", "UTC")), "v": list(range(1240))}),
        src / "part-0.parquet",
    )
    cfg = IngestConfig(
        target_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_path=str(src),
        source_schema=StructType(
            [StructField("ts", TimestampType()), StructField("v", LongType())]
        ),
        trigger_seconds=None,
        partition_time_column="ts",
        files_per_dir=files_per_dir,
    )
    ingest_once(spark, cfg)
    day_dirs = glob.glob(os.path.join(cfg.target_dir, "year=*/month=*/day=*"))
    assert len(day_dirs) == 31
    for d in day_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == files_per_dir, d
    assert spark.read.parquet(cfg.target_dir).count() == 1240


def test_metrics_file_size_histogram(spark, sf_dir, tmp_path):
    """Reference metric parity (KafkaProtoParquetWriter.java:110-121):
    the flushed-file-size histogram must see every committed data file
    and its true byte size."""
    from kafka_parquet_writer_spark.streaming.ingest import IngestMetrics

    cfg = _cfg(spark, sf_dir, str(tmp_path))
    m = IngestMetrics(spark, target_dir=cfg.target_dir)
    try:
        ingest_once(spark, cfg)
        h = m.file_size_histogram()
        files = [
            p
            for p in glob.glob(
                os.path.join(cfg.target_dir, "**", "*.parquet"), recursive=True
            )
            if "_spark_metadata" not in p
        ]
        assert h["count"] == len(files) > 0
        assert h["min"] > 0 and h["max"] >= h["p95"] >= h["p50"] >= h["min"]
        assert sum(m.file_sizes) == sum(os.path.getsize(p) for p in files)
    finally:
        m.remove(spark)


def test_metrics_read_the_commit_log_not_the_table(spark, sf_dir, monkeypatch, tmp_path):
    """The file-size histogram counts only files the sink committed,
    and a batch never lists the table or stats a data file: with 1000
    uncommitted files pre-seeded in the target, none is counted or
    touched (the per-batch cost must not grow with the table)."""
    from kafka_parquet_writer_spark.streaming.ingest import IngestMetrics

    cfg = _cfg(spark, sf_dir, str(tmp_path))
    seeded = set()
    for i in range(1000):
        d = os.path.join(cfg.target_dir, f"seed={i % 10}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"part-seed-{i:04d}.parquet")
        with open(path, "wb") as f:
            f.write(b"x" * (i + 1))
        seeded.add(path)

    touched = []

    def spy(fn):
        def wrapped(*a, **k):
            touched.append((fn.__name__, str(a[0]) if a else "."))
            return fn(*a, **k)

        return wrapped

    m = IngestMetrics(spark, target_dir=cfg.target_dir)
    try:
        for name in ("stat", "lstat", "listdir", "scandir", "walk"):
            monkeypatch.setattr(os, name, spy(getattr(os, name)))
        ingest_once(spark, cfg)
        h = m.file_size_histogram()
        monkeypatch.undo()
    finally:
        m.remove(spark)
    log = os.path.join(cfg.target_dir, "_spark_metadata")
    assert not [p for _, p in touched if p in seeded]
    assert not [
        (fn, p) for fn, p in touched
        if fn in ("listdir", "scandir", "walk")
        and p.startswith(cfg.target_dir) and not p.startswith(log)
    ]
    files = [
        p
        for p in glob.glob(os.path.join(cfg.target_dir, "**", "*.parquet"), recursive=True)
        if p not in seeded
    ]
    assert h["count"] == len(files) > 0
    assert sorted(m.file_sizes) == sorted(os.path.getsize(p) for p in files)


def test_metrics_follow_log_compaction(tmp_path):
    """Every compaction interval the sink writes ``<batch>.compact``
    (all entries so far, the batch's own last) instead of ``<batch>``;
    each committed file is counted once, and a listener that starts
    late begins at the newest compaction."""
    import json
    from types import SimpleNamespace

    from kafka_parquet_writer_spark.streaming.ingest import IngestMetrics

    log = tmp_path / "_spark_metadata"
    log.mkdir()
    no_spark = SimpleNamespace(streams=SimpleNamespace(addListener=lambda _: None))
    entries = []

    def commit(batch, sizes, compact=False):
        new = [
            {"path": f"file:///t/part-{len(entries) + i}.parquet",
             "size": size, "isDir": False, "action": "add"}
            for i, size in enumerate(sizes)
        ]
        entries.extend(new)
        own = entries if compact else new
        name = f"{batch}.compact" if compact else str(batch)
        (log / name).write_text("v1\n" + "".join(json.dumps(e) + "\n" for e in own))

    m = IngestMetrics(no_spark, target_dir=str(tmp_path))
    commit(0, [10, 11])
    m._scan_files()
    commit(1, [12], compact=True)
    commit(2, [])
    m._scan_files()
    commit(3, [13, 14], compact=True)
    commit(4, [15])
    assert m.file_size_histogram()["count"] == 6
    assert sorted(m.file_sizes) == [10, 11, 12, 13, 14, 15]
    late = IngestMetrics(no_spark, target_dir=str(tmp_path))
    assert late.file_sizes == []
    assert late.file_size_histogram()["count"] == 6


def test_rotation_max_records_per_file(spark, sf_dir, tmp_path):
    """Size-rotation analogue (reference #4, :282-310): no output file
    exceeds the per-file record cap."""
    cfg = _cfg(spark, sf_dir, str(tmp_path), max_records_per_file=200, num_shards=2)
    ingest_once(spark, cfg)
    files = glob.glob(os.path.join(cfg.target_dir, "*.parquet"))
    assert len(files) >= 5  # 1000 rows / 200 cap / 2 shards ⇒ ≥5 files
    for f in files:
        assert spark.read.parquet(f).count() <= 200, f


def test_config_validation():
    """Builder-style validation (reference #14, :453-751)."""
    with pytest.raises(ValueError, match="target_dir"):
        IngestConfig(target_dir="", checkpoint_dir="x").validate()
    with pytest.raises(ValueError, match="kafka"):
        IngestConfig(
            target_dir="a", checkpoint_dir="b", source_format="kafka"
        ).validate()
    with pytest.raises(ValueError, match="max_records_per_file"):
        IngestConfig(
            target_dir="a",
            checkpoint_dir="b",
            source_format="file",
            source_path="p",
            source_schema="not-none",
            max_records_per_file=5,
        ).validate()


def test_wire_format_roundtrip_and_dlq(spark):
    """Binary decode path (reference #2, :269-277): reference-shaped
    messages (test-message.proto:5-10 — string query, int64 timestamp,
    int32 pgsize, int32 offset) encoded → decoded; malformed bytes
    yield a null row instead of crashing the worker (the DLQ the
    reference left as TODO, :272-277)."""
    msgs = [
        {1: f"query-{i}", 2: 1700000000000 + i, 3: i % 7, 4: i} for i in range(50)
    ]
    payloads = [(encode_wire_format(m),) for m in msgs]
    payloads.append((b"\xff\xff\xff",))  # truncated varint → malformed
    df = spark.createDataFrame(payloads, "value binary")
    decoder = wire_format_decoder(
        {
            "query": (1, "string"),
            "timestamp": (2, "long"),
            "pgsize": (3, "int"),
            "offset": (4, "int"),
        }
    )
    out = decoder(df).collect()
    assert len(out) == 51
    good = sorted(
        (r for r in out if r.query is not None), key=lambda r: r.offset
    )
    assert len(good) == 50
    assert good[7].query == "query-7" and good[7].timestamp == 1700000000007
    bad = [r for r in out if r.query is None]
    assert len(bad) == 1 and bad[0].timestamp is None


def test_wire_format_negative_ints(spark):
    """Negative proto int32/int64 arrive as 10-byte two's-complement
    varints; the decoder must re-sign them (parser.parseFrom semantics)
    instead of emitting huge unsigned values that overflow Arrow int64."""
    msgs = [{1: "neg", 2: -1700000000000, 3: -7, 4: 0},
            {1: "pos", 2: 1700000000000, 3: 7, 4: 1}]
    df = spark.createDataFrame(
        [(encode_wire_format(m),) for m in msgs], "value binary"
    )
    decoder = wire_format_decoder(
        {"query": (1, "string"), "timestamp": (2, "long"),
         "pgsize": (3, "int"), "offset": (4, "int")}
    )
    out = {r.query: r for r in decoder(df).collect()}
    assert out["neg"].timestamp == -1700000000000
    assert out["neg"].pgsize == -7
    assert out["pos"].timestamp == 1700000000000


def test_wire_format_parser_units():
    enc = encode_wire_format({1: "héllo", 2: 2**45, 3: 0})
    parsed = parse_wire_format(enc)
    assert parsed[1][0].decode() == "héllo"
    assert parsed[2][0] == 2**45
    assert parsed[3][0] == 0
    with pytest.raises(ValueError):
        parse_wire_format(b"\x0a\xff")  # length-delimited, truncated body


def test_pipeline_is_inert_until_started(spark, sf_dir, tmp_path):
    """Mirrors the reference's inert construction (§3.1: no I/O or
    threads before start(), :131-166)."""
    cfg = _cfg(spark, sf_dir, str(tmp_path))
    df = build_pipeline(spark, cfg)
    assert df.isStreaming
    assert not glob.glob(os.path.join(cfg.target_dir, "*"))
