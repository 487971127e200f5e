"""The catalog's schema memo (`catalog.table_schema`): a warm read plans
without any Spark job, and the memo key follows the table's content
(stat fingerprint), the schema-conversion confs, and its size cap. A
read of many explicit files, as a file-stream batch makes, lists them
without a Spark job too."""

import itertools
import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from kafka_parquet_writer_spark import catalog
from kafka_parquet_writer_spark.catalog import load_table, table_path, table_schema

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_groups = itertools.count()


def _jobs_during(spark, fn):
    """``(fn(), number of Spark jobs it launched from this thread)``."""
    sc = spark.sparkContext
    group = f"schema_memo_{next(_groups)}"
    sc.setJobGroup(group, "schema memo job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_file(path, **cols):
    pq.write_table(pa.table(cols), path)


def test_warm_load_table_launches_no_spark_job(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    _write_file(table_path(d, "orders"), o_orderkey=pa.array([1, 2, 3]))
    _, cold = _jobs_during(spark, lambda: load_table(spark, d, "orders"))
    df, warm = _jobs_during(spark, lambda: load_table(spark, d, "orders"))
    assert cold >= 1  # the counter sees the inference job
    assert warm == 0
    assert df.count() == 3

    # the nanos-timestamp fixture too: warm read, no job, ts normalized
    load_table(spark, sf_dir, "events")
    ev, jobs = _jobs_during(spark, lambda: load_table(spark, sf_dir, "events"))
    assert jobs == 0
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_reading_40_explicit_paths_launches_no_listing_job(spark, tmp_path):
    """Past ``parallelPartitionDiscovery.threshold`` (32 by default) the
    file index lists paths with a Spark job of one task per path; a
    local session lists them in the driver."""
    paths = []
    for i in range(40):
        paths.append(str(tmp_path / f"part-{i:02d}.parquet"))
        _write_file(paths[-1], x=pa.array([i]))
    schema = StructType([StructField("x", LongType())])
    df, jobs = _jobs_during(spark, lambda: spark.read.schema(schema).parquet(*paths))
    assert jobs == 0
    assert df.count() == 40


def test_rewrite_at_same_path_reads_new_schema_file_form(spark, tmp_path):
    d = str(tmp_path)
    _write_file(table_path(d, "region"), r_regionkey=pa.array([0, 1]))
    assert load_table(spark, d, "region").columns == ["r_regionkey"]
    _write_file(
        table_path(d, "region"),
        r_regionkey=pa.array([0, 1, 2]),
        r_name=pa.array(["a", "b", "c"]),
    )
    df = load_table(spark, d, "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["a", "b", "c"]


def test_rewrite_at_same_path_reads_new_schema_directory_form(spark, tmp_path):
    d = str(tmp_path)
    path = table_path(d, "nation")
    spark.range(4).withColumnRenamed("id", "n_nationkey").write.parquet(path)
    assert load_table(spark, d, "nation").columns == ["n_nationkey"]
    (
        spark.range(5)
        .selectExpr("id AS n_nationkey", "CAST(id AS STRING) AS n_name")
        .write.mode("overwrite")
        .parquet(path)
    )
    df = load_table(spark, d, "nation")
    assert df.columns == ["n_nationkey", "n_name"]
    assert df.count() == 5


def test_binary_as_string_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    _write_file(path, payload=pa.array([b"x", b"y"], type=pa.binary()))
    conf = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert table_schema(spark, path)["payload"].dataType == BinaryType()
        spark.conf.set(conf, "true")
        assert table_schema(spark, path)["payload"].dataType == StringType()
        spark.conf.set(conf, "false")
        assert table_schema(spark, path)["payload"].dataType == BinaryType()
    finally:
        spark.conf.set(conf, prev)


def test_memo_is_bounded_by_its_cap(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_CAP", 3)
    d = str(tmp_path)
    for i in range(6):
        path = os.path.join(d, f"t{i}.parquet")
        _write_file(path, **{f"c{i}": pa.array([i])})
        assert table_schema(spark, path).names == [f"c{i}"]
        assert len(catalog._schema_memo) <= 3
    assert len(catalog._schema_memo) == 3


def test_memo_survives_a_spark_context_restart(sf_dir):
    """Stop the session and start a new one in a child process (the
    suite's shared session must stay up): the memo entry filled by the
    first context serves the second one, with no job and right rows."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from kafka_parquet_writer_spark import catalog, get_spark
        from kafka_parquet_writer_spark.catalog import load_table

        s1 = get_spark("schema-memo-1", cpus=1, shuffle_partitions=1)
        n1 = load_table(s1, sys.argv[1], "region").count()
        app1 = s1.sparkContext.applicationId
        s1.stop()
        s2 = get_spark("schema-memo-2", cpus=1, shuffle_partitions=1)
        sc = s2.sparkContext
        assert sc.applicationId != app1
        sc.setJobGroup("warm", "warm read")
        df = load_table(s2, sys.argv[1], "region")
        assert sc.statusTracker().getJobIdsForGroup("warm") == [], "warm read ran a job"
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert df.count() == n1 == 5, n1
        assert len(catalog._schema_memo) == 1
        s2.stop()
        print("RESTART_OK")
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script, sf_dir],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert "RESTART_OK" in out.stdout, out.stderr[-3000:]
