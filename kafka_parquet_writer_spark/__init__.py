"""kafka_parquet_writer_spark — a PySpark-native analytics + streaming-ETL engine.

Re-expresses the capabilities of sahabpardaz/kafka-parquet-writer
(reference: /root/reference, a Kafka→Parquet streaming ETL library,
`KafkaProtoParquetWriter.java` + `ParquetFile.java`) on top of Apache Spark:

- **Streaming ETL layer** (`streaming/`): Kafka (or file) source → decode →
  time-partitioned Parquet sink with rotation semantics, mapped onto
  Structured Streaming (exactly-once file sink vs the reference's
  at-least-once ack-after-flush — strictly stronger).
- **Query layer** (`operators/`): the declared query inventory of SURVEY.md §2B
  — scans, filters, aggregations, joins (incl. as-of), windows, set ops,
  scalar function families — plus the LLM-data-pipeline operators
  (dedup exact/MinHash-LSH/SimHash/embedding, similarity search,
  text analysis, multimodal columns), every operator designed for
  100 TB scale (broadcast small dims, no driver collects, LSH instead of
  cross products, partial aggregation).

Everything is DataFrame/SQL-first so Catalyst handles pushdown, pruning,
join selection, and AQE re-planning.

The public names below load on first access (PEP 562): the Python
worker daemon, ``daemon.py``, runs inside this package and must clear
the pyspark archives off ``sys.path`` before anything imports pyspark.
"""

import importlib

#: public name → the module that defines it
_EXPORTS = {
    "get_spark": "session",
    "TABLES": "catalog",
    "load_table": "catalog",
    "register_views": "catalog",
    "QUERIES": "registry",
    "ORACLES": "registry",
}

__all__ = list(_EXPORTS)

__version__ = "0.1.0"


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    module = importlib.import_module(f"{__name__}.{_EXPORTS[name]}")
    return getattr(module, name)
