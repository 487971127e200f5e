"""Transaction-log table format (tablefmt.TxTable) as driver-checked
queries.

The table format — O_EXCL commits, file-pruned MERGE, time travel —
was previously pytest-only surface; these keys run its real write
paths (create → merge) inside a query and value-check the resulting
table states against DuckDB computing the same states relationally.
A green row proves the format's MERGE semantics (update + insert +
survivor-by-reference) and version isolation, not just that a read
returns rows.

Scale notes live with the format (`tablefmt.py`): MERGE rewrites only
files whose key range overlaps the batch; time travel is metadata-only
(a snapshot is a file list, so reading v0 after N merges costs the
same scan it always did).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_parquet_writer_spark.artifacts import scratch
from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.functions.portable import cents, sql_cents
from kafka_parquet_writer_spark.registry import query
from kafka_parquet_writer_spark.tablefmt import TxTable

#: merge batch: bump every 7th key, insert new rows for every 13th
MERGE_BUMP_MOD = 7
MERGE_INSERT_MOD = 13
MERGE_INSERT_OFFSET = 10_000_000


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents(F.col("o_totalprice")).alias("vc")
    )


def _bump(base: DataFrame) -> DataFrame:
    """The +10% price update batch — shared by both table queries and
    mirrored by the '* 110 // 100' in both oracles."""
    return base.filter(F.col("o_orderkey") % MERGE_BUMP_MOD == 0).select(
        "o_orderkey", F.expr("vc * 110 div 100").alias("vc")
    )


def _delta(base: DataFrame) -> DataFrame:
    bump = _bump(base)
    ins = base.filter(F.col("o_orderkey") % MERGE_INSERT_MOD == 0).select(
        (F.col("o_orderkey") + MERGE_INSERT_OFFSET).alias("o_orderkey"),
        F.expr("vc div 2").alias("vc"),
    )
    return bump.unionByName(ins)


@query(
    "table_merge_upsert",
    oracle=f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % {MERGE_BUMP_MOD} = 0
                THEN {sql_cents('o_totalprice')} * 110 // 100
                ELSE {sql_cents('o_totalprice')} END AS vc
    FROM orders
    UNION ALL
    SELECT o_orderkey + {MERGE_INSERT_OFFSET} AS o_orderkey,
           {sql_cents('o_totalprice')} // 2 AS vc
    FROM orders WHERE o_orderkey % {MERGE_INSERT_MOD} = 0
    """,
)
def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE through the transaction-log table format, value-checked:
    create a table from orders, merge a batch that updates every
    {MERGE_BUMP_MOD}th key (+10% price) and inserts brand-new keys,
    read the resulting state. The oracle computes the same final state
    relationally — matching values prove the upsert path end to end:
    updated rows rewritten, untouched files surviving by reference,
    inserts landing once.

    Scale shape: the merge prunes by footer min/max on the leading
    key — a batch touching one key range rewrites only the files
    overlapping it. (Here the bump batch spans the full range, so the
    demo rewrites the table; test_tablefmt pins the pruning counts.)
    """
    base = _base(spark, sf_dir)
    t = TxTable(scratch("kpws_tq_merge_"))
    t.create(base)
    t.merge(spark, _delta(base), keys=["o_orderkey"])
    return t.read(spark)


@query(
    "table_time_travel",
    oracle=f"""
    SELECT o_orderkey,
           {sql_cents('o_totalprice')} AS vc_v0,
           {sql_cents('o_totalprice')} * 110 // 100 AS vc_now
    FROM orders
    WHERE o_orderkey % {MERGE_BUMP_MOD} = 0
    """,
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the transaction log: after a merge bumps
    every {MERGE_BUMP_MOD}th key, read version 0 AND the current
    version and join them on the key — emitting (key, value-then,
    value-now) for the changed rows. The oracle derives both states
    from the source table, so a green row proves version isolation:
    the old snapshot still reads its original bytes after the merge
    rewrote the live state.

    Scale shape: a snapshot is a file list in the log — time travel
    adds zero storage and the v0 read costs what it always did;
    VACUUM is the explicit trade of old-version readability for space.
    """
    base = _base(spark, sf_dir)
    t = TxTable(scratch("kpws_tq_tt_"))
    t.create(base)
    t.merge(spark, _bump(base), keys=["o_orderkey"])
    v0 = t.read(spark, version=0).select(
        "o_orderkey", F.col("vc").alias("vc_v0")
    )
    now = t.read(spark).select("o_orderkey", F.col("vc").alias("vc_now"))
    # no changed-only filter: emit every bumped key, exactly as the
    # oracle derives it (a vc < 10 row would make +10% the identity
    # and a changed-filter would silently drop it on one side)
    return v0.join(now, "o_orderkey").filter(
        F.col("o_orderkey") % MERGE_BUMP_MOD == 0
    ).select("o_orderkey", "vc_v0", "vc_now")


# --- table_zorder_compact ---------------------------------------------------

#: the two-dimensional audit slice (absolute constants valid at every
#: fixture SF: user_id spans ≥0..14, value cents span ≥3..32753)
ZC_U_LO, ZC_U_HI = 3, 7
ZC_V_LO, ZC_V_HI = 5_000, 15_000


def zorder_slice_stats(
    spark: SparkSession, ev: DataFrame, n_frag: int, n_files: int
) -> tuple[TxTable, dict]:
    """Shared by the driver key below and bench_scale's z-order skip
    lane (so the measured lane can never drift from the verified key):
    land ``ev`` fragmented into ``n_frag`` unclustered files, OPTIMIZE
    ZORDER on (user_id, vc) into ``n_files``, and report the file-
    skipping stats for the fixed 2-D audit slice."""
    t = TxTable(scratch("kpws_zorder_"))
    t.create(ev.repartition(n_frag), stats_cols=["user_id", "vc"])
    t.compact(
        spark, cluster_by=["user_id", "vc"], n_files=n_files, zorder=True
    )
    snap = t._snapshot()
    stats = {
        "total": len(snap["files"]),
        "cand_u": len(t.candidate_files(snap, "user_id", ZC_U_LO, ZC_U_HI)),
        "cand_v": len(t.candidate_files(snap, "vc", ZC_V_LO, ZC_V_HI)),
    }
    return t, stats


def zorder_slice_read(spark: SparkSession, t: TxTable) -> DataFrame:
    """The 2-D audit slice through the log's file-skipping path."""
    return t.read_where(spark, "user_id", ZC_U_LO, ZC_U_HI).filter(
        F.col("vc").between(ZC_V_LO, ZC_V_HI)
    )


@query(
    "table_zorder_compact",
    oracle=f"""
    SELECT count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(sum({sql_cents('value')}) AS BIGINT) AS vc_sum,
           TRUE AS pruned_both_dims
    FROM events
    WHERE user_id BETWEEN {ZC_U_LO} AND {ZC_U_HI}
      AND {sql_cents('value')} BETWEEN {ZC_V_LO} AND {ZC_V_HI}
    """,
)
def table_zorder_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering as a driver-checked query: events land
    FRAGMENTED (16 unclustered files, every file spanning the whole
    (user_id, value) space — the shape a streaming sink leaves behind,
    `KafkaProtoParquetWriter.java:282-310`), then OPTIMIZE ZORDER
    rewrites them along a Morton curve over equi-depth bucket ranks of
    BOTH columns. The query then runs a 2-dimensional range slice
    through the log's file-skipping path and returns its aggregate,
    with an in-query boolean asserting the post-compaction stats prune
    files on BOTH dimensions (linear clustering can only ever prune
    the leading one). The oracle computes the slice from the raw
    table, so a green row proves the rewrite is content-lossless AND
    that data skipping engaged on each dimension.

    Scale shape: the rewrite is one repartitionByRange on the
    interleaved key (driver sees only ~quantile boundary values); the
    slice read is log-pruned BEFORE Spark sees a path — at 100 TB the
    difference between touching ~√F and F files per non-leading-
    dimension predicate.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", cents(F.col("value")).alias("vc")
    )
    t, st = zorder_slice_stats(spark, ev, n_frag=16, n_files=16)
    pruned = st["cand_u"] < st["total"] and st["cand_v"] < st["total"]
    sl = zorder_slice_read(spark, t)
    return sl.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("id_sum"),
        F.sum("vc").alias("vc_sum"),
        F.lit(bool(pruned)).alias("pruned_both_dims"),
    )


@query(
    "table_vacuum_retention",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(vc) AS BIGINT) AS sum_vc,
           TRUE AS files_removed,
           TRUE AS live_files_intact
    FROM (
      SELECT CASE WHEN o_orderkey % {MERGE_BUMP_MOD} = 0
                  THEN {sql_cents('o_totalprice')} * 110 // 100
                  ELSE {sql_cents('o_totalprice')} END AS vc
      FROM orders)
    """,
)
def table_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM's retention contract, value-checked: create (v0), merge
    a bump batch (v1 rewrites the touched files), then vacuum
    retaining only the latest version. The orphaned v0-only files
    must actually be deleted (`files_removed` — DuckDB asserts the
    literal TRUE, so a no-op vacuum flips the hash), every file the
    live snapshot references must survive on disk
    (`live_files_intact`), and the post-vacuum read must still
    produce the exact merged state (n_rows + sum_vc against the
    relational oracle) — space reclaimed, zero data damage.

    Completes the table-format query family (MERGE upsert, time
    travel, OPTIMIZE ZORDER, and now retention/GC). Scale shape:
    vacuum is pure metadata work plus unlink calls — it lists
    retained snapshots' file sets (file LISTS, not data) and walks
    the data dir; no Spark job, no shuffle, cost ∝ file count. The
    checkpoint rewrite at the horizon keeps log replay bounded after
    old commits drop.
    """
    import os

    base = _base(spark, sf_dir)
    t = TxTable(scratch("kpws_tq_vac_"))
    t.create(base)
    t.merge(spark, _bump(base), keys=["o_orderkey"])
    removed = t.vacuum(retain_versions=1)
    live_ok = all(
        os.path.exists(os.path.join(t.dir, rel))
        for rel in t._snapshot(t._versions()[-1])["files"]
    )
    return t.read(spark).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("vc").cast("long").alias("sum_vc"),
        F.lit(len(removed) > 0).alias("files_removed"),
        F.lit(live_ok).alias("live_files_intact"),
    )
