"""Schema evolution on at-rest data: the reference pins one proto class
per writer and handles no evolution (SURVEY §1.3,
KafkaProtoParquetWriter.java:483-484) — readers of its output break the
day a field is added. The engine's story: parquet mergeSchema for
additive reads, and the upsert sink absorbing new columns via
unionByName(allowMissingColumns) semantics at merge time.
"""

import os

from pyspark.sql import functions as F


def test_merge_schema_reads_additive_columns(spark, tmp_path):
    base = str(tmp_path)
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    v2 = spark.createDataFrame(
        [(3, "c", 30), (4, "d", 40)], "k int, v string, n int"
    )
    v1.write.parquet(os.path.join(base, "p=1"))
    v2.write.parquet(os.path.join(base, "p=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) >= {"k", "v", "n"}
    rows = {r["k"]: (r["v"], r["n"]) for r in merged.collect()}
    assert rows[1] == ("a", None)  # old files read with nulls for new col
    assert rows[3] == ("c", 30)


def test_default_read_is_first_file_schema(spark, tmp_path):
    """Without mergeSchema Spark uses one file's footer — documents why
    the engine's readers keep schemas explicit (sources/readers.py)."""
    base = str(tmp_path)
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(
        os.path.join(base, "p=1")
    )
    spark.createDataFrame(
        [(2, "b", 20)], "k int, v string, n int"
    ).write.parquet(os.path.join(base, "p=2"))
    plain = spark.read.parquet(base)
    # n may or may not be visible depending on which footer won —
    # the point is determinism requires mergeSchema or explicit schema
    assert {"k", "v"} <= set(plain.columns)
