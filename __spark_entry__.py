"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship query (TPC-H Q1 shape) on sf0.001.
queries()    — every declared operator from SURVEY.md §2B/§2C, keyed by
               name; implemented in kafka_parquet_writer_spark.operators.*,
               ordered stalest oracle receipt first.
oracle_sql() — matching DuckDB ANSI SQL; keys without an oracle get the
               driver's weaker rows-only check (approximate operators).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_parquet_writer_spark.registry import QUERIES, ORACLES, load_all_operators

load_all_operators()

#: per-SF receipts of the keys that passed tools/verify_oracle.py
RECEIPTS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "ORACLE_RECEIPTS.json"
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["agg_hash"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered stalest sf0.01 receipt first: keys with no receipt (in
    registration order), then ascending receipt time. Only the receipt
    file is read; whether a receipt still matches the code is
    tools/evidence_audit.py's check."""
    try:
        with open(RECEIPTS) as f:
            receipts = json.load(f).get("sf0.01", {})
    except FileNotFoundError:
        receipts = {}
    order = sorted(
        QUERIES, key=lambda k: (k in receipts, receipts.get(k, {}).get("at", ""))
    )
    return {k: QUERIES[k] for k in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query key (subset of queries())."""
    return dict(ORACLES)
