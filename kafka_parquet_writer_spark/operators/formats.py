"""Source/sink format round-trips as driver-checkable queries.

The reference writes exactly one at-rest format (parquet,
`ParquetFile.java:36-62`); a Spark engine speaks every format Spark
bundles. Each key here writes the events table through a format's full
serialize→deserialize cycle (a real temp-dir write + schema-explicit
read back, not a no-op) and aggregates the result; the DuckDB oracle
computes the same aggregate over the original parquet, so a green row
proves the round-trip was lossless.

Only integer-exact columns cross the format boundary (`value` is
fixed-pointed to cents BEFORE the write): CSV/JSON float text
round-trips are representation-sensitive, and pinning that down is the
formats' job, not this gate's. Schema-explicit reads everywhere —
inference costs a full extra pass and types drift (int64 → double in
JSON) — matching sources/readers.py's contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_parquet_writer_spark.artifacts import scratch
from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.functions.portable import cents, sql_cents
from kafka_parquet_writer_spark.registry import query

#: one aggregate proves the cycle lossless for every carried column
_ROUNDTRIP_ORACLE = f"""
SELECT event_type,
       count(*)                                     AS n,
       CAST(sum(event_id) AS BIGINT)                AS id_sum,
       CAST(sum(user_id) AS BIGINT)                 AS uid_sum,
       CAST(sum({sql_cents('value')}) AS BIGINT)    AS vc_sum
FROM events
GROUP BY event_type
"""


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        cents(F.col("value")).alias("vc"),
    )
    d = scratch(f"kpws_fmt_{fmt}_")
    # header on BOTH sides (csv only; orc/json ignore it) — an
    # asymmetric header option silently eats one data row per file
    ev.write.mode("overwrite").format(fmt).option("header", "true").save(d)
    back = (
        spark.read.format(fmt)
        .schema("event_id long, user_id long, event_type string, vc long")
        .option("header", "true")  # ignored by orc/json
        .load(d)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("id_sum"),
        F.sum("user_id").alias("uid_sum"),
        F.sum("vc").alias("vc_sum"),
    )


@query("source_orc_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write→read→aggregate equals the parquet-side truth. ORC is
    the columnar alternative Spark bundles (predicate pushdown, stripe
    stats) — the at-rest choice when the downstream warehouse is
    Hive/ORC-native."""
    return _roundtrip(spark, sf_dir, "orc")


@query("source_csv_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV (with header) write→read→aggregate equals the parquet-side
    truth, read schema-explicit — the interchange format every upstream
    system can produce; scan cost is ~5× parquet at 100 TB (no column
    pruning, text parse), which is why it's an EDGE format here, never
    the at-rest one."""
    return _roundtrip(spark, sf_dir, "csv")


@query("source_json_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write→read→aggregate equals the parquet-side truth,
    read schema-explicit (inferred JSON widens int64→double — the drift
    this gate would catch)."""
    return _roundtrip(spark, sf_dir, "json")


#: schema-evolution split: even event_ids land in the v1 files (no
#: event_type column), odd in the v2 files (with it)
EVO_MOD = 2


@query(
    "source_schema_evolution",
    oracle=f"""
    WITH v1 AS (
      SELECT event_id, user_id, {sql_cents('value')} AS vc,
             CAST(NULL AS VARCHAR) AS event_type
      FROM events WHERE event_id % {EVO_MOD} = 0
    ),
    v2 AS (
      SELECT event_id, user_id, {sql_cents('value')} AS vc, event_type
      FROM events WHERE event_id % {EVO_MOD} = 1
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT COALESCE(event_type, '<absent>') AS etype,
           count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(sum(vc) AS BIGINT) AS vc_sum
    FROM u
    GROUP BY 1
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across a table's files, handled at read time: the
    v1 files lack a column later files carry (the lake reality when a
    producer upgrades mid-stream), and a ``mergeSchema`` read unifies
    them — absent columns surface as NULLs, aggregated here into
    per-type counts the oracle reproduces with an explicit NULL union.

    Scale shape: mergeSchema's cost is footer-reading breadth at
    planning time (bounded by file count, mitigated by compaction);
    the scan itself stays columnar with NULL fill — no row-level
    rewrite of old files. Schema evolution policy beyond additive
    columns (renames, type changes) belongs in the table format's
    metadata, not in the reader.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", cents(F.col("value")).alias("vc"), "event_type"
    )
    d = scratch("kpws_evo_")
    ev.filter(F.col("event_id") % EVO_MOD == 0).drop("event_type").write.parquet(
        f"{d}/g=0"
    )
    ev.filter(F.col("event_id") % EVO_MOD == 1).write.parquet(f"{d}/g=1")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{d}/g=0", f"{d}/g=1"
    )
    return (
        back.select(
            F.coalesce(F.col("event_type"), F.lit("<absent>")).alias("etype"),
            "event_id",
            "vc",
        )
        .groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("id_sum"),
            F.sum("vc").alias("vc_sum"),
        )
    )


@query(
    "maintenance_compact",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(sum({sql_cents('value')}) AS BIGINT) AS vc_sum,
           TRUE AS fewer_files
    FROM events
    GROUP BY event_type
    """,
)
def maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction as a driver-checked query: fragment the
    events table into many tiny files (the streaming-sink pathology
    the reference's size rotation exists to prevent,
    `KafkaProtoParquetWriter.java:282-310`), compact into target-sized
    files, and aggregate the result — with an in-query boolean
    asserting the rewrite actually reduced the file count. The oracle
    aggregates the original table, so a green row proves the compactor
    is content-lossless AND effective.

    Scale shape: compaction is one round-robin repartition write —
    shuffle sized by at-rest bytes, file count planned from measured
    bytes / target (streaming/maintenance.py); Hive-partitioned
    layouts compact per-partition.
    """
    import glob as _glob

    from kafka_parquet_writer_spark.streaming.maintenance import (
        compact_parquet_dir,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", cents(F.col("value")).alias("vc")
    )
    frag = scratch("kpws_frag_")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    dst = scratch("kpws_compacted_")
    compact_parquet_dir(spark, frag, dst, target_file_bytes=32 << 20)
    n_before = len(_glob.glob(f"{frag}/part-*.parquet"))
    n_after = len(_glob.glob(f"{dst}/part-*.parquet"))
    back = spark.read.parquet(dst)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("id_sum"),
        F.sum("vc").alias("vc_sum"),
        F.lit(n_after < n_before).alias("fewer_files"),
    )


#: every Nth event is written as a deliberately malformed JSON line
DLQ_CORRUPT_MOD = 17


@query(
    "source_json_dlq",
    oracle=f"""
    SELECT 'valid' AS kind,
           count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events WHERE event_id % {DLQ_CORRUPT_MOD} <> 0
    UNION ALL
    SELECT 'corrupt' AS kind,
           count(*) AS n,
           CAST(0 AS BIGINT) AS id_sum
    FROM events WHERE event_id % {DLQ_CORRUPT_MOD} = 0
    """,
)
def source_json_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing for malformed records — the capability the
    reference explicitly lacks (a malformed protobuf CRASHES its
    worker thread, with an acknowledged TODO for a DLQ callback,
    `KafkaProtoParquetWriter.java:272-277`). Every {DLQ_CORRUPT_MOD}th
    event is serialized as a deliberately broken JSON line; the
    schema-explicit PERMISSIVE read (sources/readers.py) routes those
    rows to the `_corrupt_record` column instead of failing the job,
    and the query reports both sides of the split. The oracle derives
    the same split from the source table, so a green row proves no
    record is lost OR silently misparsed in either direction.

    Scale shape: corruption handling is per-row inside the scan —
    zero extra passes; the DLQ view is a filter on the same cached
    parse.
    """
    from kafka_parquet_writer_spark.sources.readers import (
        corrupt_records,
        read_json,
        valid_records,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    line = F.when(
        F.col("event_id") % DLQ_CORRUPT_MOD == 0,
        F.concat(F.lit('{"broken '), F.col("event_id").cast("string")),
    ).otherwise(F.to_json(F.struct("event_id", "user_id")))
    d = scratch("kpws_dlq_")
    ev.select(line.alias("value")).write.mode("overwrite").text(d)
    back = read_json(spark, d, schema="event_id long, user_id long").cache()
    good = valid_records(back).agg(
        F.lit("valid").alias("kind"),
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("id_sum"),
    )
    bad = corrupt_records(back).agg(
        F.lit("corrupt").alias("kind"),
        F.count(F.lit(1)).alias("n"),
        F.lit(0).cast("long").alias("id_sum"),
    )
    return good.unionByName(bad)
