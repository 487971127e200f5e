"""CSV/JSON source readers: schema-explicit round trips and the
corrupt-record DLQ path (malformed input is data, never a crash)."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.sources.readers import (
    corrupt_records,
    read_csv,
    read_json,
    valid_records,
)

SCHEMA = "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"


@pytest.fixture(scope="module")
def orders_df(spark):
    return load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_round_trip(spark, orders_df, tmp_path):
    d = str(tmp_path / "orders")
    orders_df.write.mode("overwrite").option("header", "true").csv(d)
    back = valid_records(read_csv(spark, d, schema=SCHEMA))
    assert _sorted_rows(back) == _sorted_rows(orders_df)


def test_json_round_trip(spark, orders_df, tmp_path):
    d = str(tmp_path / "orders")
    orders_df.write.mode("overwrite").json(d)
    back = valid_records(read_json(spark, d, schema=SCHEMA))
    assert _sorted_rows(back) == _sorted_rows(orders_df)


def test_schema_required_without_optin(spark):
    with pytest.raises(ValueError, match="schema"):
        read_csv(spark, "/tmp/nowhere")
    with pytest.raises(ValueError, match="schema"):
        read_json(spark, "/tmp/nowhere")


def test_malformed_json_goes_to_dlq_not_crash(spark, tmp_path):
    d = str(tmp_path)
    with open(os.path.join(d, "data.json"), "w") as f:
        f.write('{"o_orderkey": 1, "o_custkey": 2, "o_totalprice": 3.5, "o_orderstatus": "O"}\n')
        f.write("THIS IS NOT JSON\n")
        f.write('{"o_orderkey": 4, "o_custkey": 5, "o_totalprice": 6.5, "o_orderstatus": "F"}\n')
    # cache first: Spark re-parses only referenced columns per query, so
    # filtering on _corrupt_record without materializing sees nulls
    # (documented in readers.corrupt_records)
    df = read_json(spark, d, schema=SCHEMA).cache()
    df.count()
    good = valid_records(df)
    bad = corrupt_records(df)
    assert good.count() == 2
    assert bad.count() == 1
    assert "NOT JSON" in bad.collect()[0]["_corrupt_record"]
    assert sorted(r["o_orderkey"] for r in good.collect()) == [1, 4]
