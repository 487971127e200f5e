"""Partition pruning on the ingest layout: the reason streaming/ingest
writes Hive-style `year=/month=/day=` directories instead of the
reference's raw `2024/01` path segments (KafkaProtoParquetWriter.java:
362-380, which nothing in the reference can read back selectively).

Asserts the two pruning modes any 100 TB layout lives or dies by:
static partition filters (literal predicate → scan lists only matching
directories) and dynamic partition pruning (join against a filtered dim
prunes fact partitions at runtime).
"""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.plans import formatted_plan


@pytest.fixture(scope="module")
def partitioned_events(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("part") / "events")
    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(d)
    return d


def test_layout_is_hive_partitioned(spark, partitioned_events):
    days = sorted(
        x for x in os.listdir(partitioned_events) if x.startswith("day=")
    )
    assert len(days) >= 2


def test_static_partition_pruning(spark, partitioned_events):
    days = sorted(
        x.split("=", 1)[1]
        for x in os.listdir(partitioned_events)
        if x.startswith("day=")
    )
    df = spark.read.parquet(partitioned_events).filter(F.col("day") == days[0])
    plan = formatted_plan(df)
    scan = "\n".join(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "day" in scan  # predicate reached the scan's partition filters
    # and the filter is NOT also a post-scan data filter on all rows
    full = spark.read.parquet(partitioned_events)
    assert df.count() < full.count()
    assert df.count() == full.filter(F.col("day") == days[0]).count()


def test_dynamic_partition_pruning(spark, partitioned_events):
    """Fact filtered through a joined dim: the runtime subquery filter
    (dynamicpruning) must appear in the fact scan."""
    fact = spark.read.parquet(partitioned_events)
    dim_rows = (
        fact.select("day").distinct().orderBy("day").limit(1).collect()
    )
    dim = spark.createDataFrame(
        [(d["day"], "keep") for d in dim_rows]
        + [("1970-01-01", "drop")],
        "day string, tag string",
    ).filter(F.col("tag") == "keep")  # selective dim predicate → DPP
    joined = fact.join(dim, "day").select("event_id", "day", "tag")
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower()
