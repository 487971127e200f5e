"""Compaction: many small files → few target-sized files, content
preserved (multiset), Hive partitioning preserved when requested."""

import glob
import os

from pyspark.sql import functions as F

from kafka_parquet_writer_spark.streaming.maintenance import (
    compact_parquet_dir,
    dir_parquet_bytes,
    plan_output_files,
)


def _parquet_files(d):
    return [
        p
        for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        if not os.path.basename(p).startswith(("_", "."))
    ]


def test_plan_output_files():
    assert plan_output_files(0, 100) == 1
    assert plan_output_files(100, 100) == 1
    assert plan_output_files(101, 100) == 2
    assert plan_output_files(10**12, 1 << 30) == 932


def test_compact_merges_small_files(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst" / "out")
    df = spark.range(10_000).withColumn("v", F.col("id") % 97)
    df.repartition(40).write.mode("overwrite").parquet(src)  # 40 small files
    assert len(_parquet_files(src)) == 40

    total = dir_parquet_bytes(src)
    n = compact_parquet_dir(spark, src, dst, target_file_bytes=total // 3 + 1)
    assert n == 3
    assert len(_parquet_files(dst)) == 3

    a = sorted(r["id"] for r in spark.read.parquet(src).collect())
    b = sorted(r["id"] for r in spark.read.parquet(dst).collect())
    assert a == b


def test_compact_preserves_hive_partitions(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst" / "out")
    df = spark.range(1_000).withColumn("day", (F.col("id") % 3).cast("string"))
    df.repartition(10).write.mode("overwrite").partitionBy("day").parquet(src)
    assert len(_parquet_files(src)) > 10

    compact_parquet_dir(
        spark, src, dst, target_file_bytes=1 << 30, partition_by=["day"]
    )
    # layout preserved and prunable
    part_dirs = sorted(d for d in os.listdir(dst) if d.startswith("day="))
    assert part_dirs == ["day=0", "day=1", "day=2"]
    # one file per partition at this size
    for day in ("day=0", "day=1", "day=2"):
        assert len(_parquet_files(os.path.join(dst, day))) == 1
    a = sorted((r["id"], r["day"]) for r in spark.read.parquet(src).collect())
    b = sorted((r["id"], r["day"]) for r in spark.read.parquet(dst).collect())
    assert a == b


def test_upsert_replaces_by_key(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.streaming.maintenance import upsert_parquet

    base = str(tmp_path)
    old_dir = os.path.join(base, "old")
    new_dir = os.path.join(base, "new")
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, n int"
    )
    old.write.parquet(old_dir)
    updates = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "k int, v string, n int"
    )
    upsert_parquet(spark, old_dir, updates, keys=["k"], dst_dir=new_dir)
    got = sorted(tuple(r) for r in spark.read.parquet(new_dir).collect())
    assert got == [(1, "a", 10), (2, "B", 99), (3, "c", 30), (4, "d", 40)]


def test_upsert_no_existing_dedups_updates(spark, tmp_path):
    from kafka_parquet_writer_spark.streaming.maintenance import upsert_parquet

    base = str(tmp_path)
    new_dir = os.path.join(base, "new")
    updates = spark.createDataFrame(
        [(1, "x", 5), (1, "y", 9), (2, "z", 7)], "k int, v string, ts int"
    )
    upsert_parquet(
        spark, None, updates, keys=["k"], dst_dir=new_dir, order_col="ts"
    )
    got = sorted(tuple(r) for r in spark.read.parquet(new_dir).collect())
    assert got == [(1, "y", 9), (2, "z", 7)]  # greatest ts wins
