"""Streaming operators, executed for real through Structured Streaming
(SURVEY.md §2C) and — where the semantics are SQL-expressible — verified
against the DuckDB oracle like any batch query.

Each query here: reads a table as a *stream* (file source,
availableNow trigger), runs the streaming operator (windowed agg /
stateful dedup / session windows / foreachBatch fold), sinks to an
in-memory table or at-rest state, and returns a DataFrame over it. So
the oracle gate checks actual streaming execution, not a batch
re-formulation.

Two helpers carry the plumbing. ``_ranged_stream`` stages a table once
as n column-ranged files and streams them one per trigger (ordered
micro-batches). ``_run_stream`` runs every query: it alone sets and
restores the session confs a query captures at start, removes the
checkpoint it creates, and keeps the finished query in ``last_query``.

A stream twin of a batch key runs the batch key's own body, split in
two: a ``head`` (the stateless per-row part — shingle and broadcast
join, route and broadcast join, assign and probe join) and a ``tail``
(the rollup or top-k). The batch key is ``tail(head(static))``; the
twin is ``tail(_run_to_memory(head(stream), "append"))``, the tail
running batch-side over the memory-sink table. Because the head is a
row-wise map, the tail over the union of micro-batches is exactly the
batch answer.
"""

from __future__ import annotations

import atexit
import glob
import itertools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_parquet_writer_spark.catalog import (
    ensure_nanos_readable,
    load_table,
    normalize_nanos,
    table_path,
    table_schema,
)
from kafka_parquet_writer_spark.functions.portable import cents, pround, sql_cents
from kafka_parquet_writer_spark.registry import query

_counter = itertools.count()
_stage_cache: dict[str, str] = {}


def _staged_dir(path: str) -> str:
    """Streaming file sources require a directory of data FILES; the
    fixture is a single parquet file — stage a symlink inside a temp
    dir. A multi-file table (e.g. bench_scale's blown-up fixtures)
    arrives as a DIRECTORY: the file-stream source does not recurse
    into subdirectories, so symlinking the directory itself would
    silently stream ZERO rows — stage each part file instead. The dir
    lives as long as the process."""
    if path not in _stage_cache:
        d = tempfile.mkdtemp(prefix="kpws_src_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                raise FileNotFoundError(f"no parquet files under {path}")
            for i, p in enumerate(parts):
                os.symlink(p, os.path.join(d, f"part-{i:05d}.parquet"))
        else:
            os.symlink(path, os.path.join(d, os.path.basename(path)))
        _stage_cache[path] = d
    return _stage_cache[path]


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = table_path(sf_dir, "events")
    ensure_nanos_readable(spark)
    schema = table_schema(spark, path)
    return normalize_nanos(
        spark.readStream.schema(schema).parquet(_staged_dir(path))
    )


#: staged range splits: (name, sf_dir, n) → (stage dir, lo, span)
_ranged_stages: dict[tuple[str, str, int], tuple[str, int, int]] = {}


def _write_file(df: DataFrame, dst: str) -> None:
    """Write ``df`` as the single parquet file ``dst``. Spark writes a
    directory; its one part file is moved out and the directory
    dropped. The directory's '_' prefix keeps a file source listing
    ``dst``'s parent meanwhile from admitting it."""
    tmp = os.path.join(os.path.dirname(dst), "_" + os.path.basename(dst))
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    [part] = glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.move(part, dst)
    shutil.rmtree(tmp)


def _ranged_stream(
    spark: SparkSession, sf_dir: str, name: str, df: DataFrame, col: str, n: int
) -> tuple[DataFrame, int, int]:
    """``df`` as a stream of ``n`` micro-batches ranged on ``col``.

    Returns (stream, lo, span): batch i holds the rows with
    lo + i·span <= col < lo + (i+1)·span. The split is staged once per
    (name, sf_dir, n) as n single parquet files with strictly
    increasing mtimes, so the file source admits them oldest-first —
    micro-batches arrive in ``col`` order, the precondition for
    first-wins dedup and epoch-keyed state to be reproducible. ``name``
    must identify ``df``'s rows within ``sf_dir``. The stream reads one
    file per trigger with the staged file's memoized schema, so a warm
    call runs no Spark job. The stage lives as long as the process."""
    key = (name, sf_dir, n)
    if key not in _ranged_stages:
        lo, hi = df.agg(F.min(col), F.max(col)).first()
        span = (hi - lo + n) // n
        stage = tempfile.mkdtemp(prefix=f"kpws_{name}_src_")
        atexit.register(shutil.rmtree, stage, ignore_errors=True)
        c = F.col(col)
        for i in range(n):
            dst = os.path.join(stage, f"{i:03d}.parquet")
            rows = df.filter((c >= lo + i * span) & (c < lo + (i + 1) * span))
            _write_file(rows, dst)
            t = 1_600_000_000 + i * 10
            os.utime(dst, (t, t))
        _ranged_stages[key] = (stage, lo, span)
    stage, lo, span = _ranged_stages[key]
    schema = table_schema(spark, os.path.join(stage, "000.parquet"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream, lo, span


#: micro-batches for the documents streams (doc_id-ranged files)
DEDUP_STREAM_BATCHES = 4


def _documents_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int, int]:
    """The documents table as DEDUP_STREAM_BATCHES doc_id-ordered
    micro-batches: (stream, lo, span) of _ranged_stream."""
    docs = load_table(spark, sf_dir, "documents")
    return _ranged_stream(
        spark, sf_dir, "documents", docs, "doc_id", DEDUP_STREAM_BATCHES
    )


#: state partitions for the declared streaming queries. Stateful
#: operators commit one store (stream-stream joins: four) per partition
#: per batch — a file create+rename each — so partition count must track
#: STATE size, not core count: at fixture scale 32 partitions spend more
#: time committing empty stores than computing (measured 9 s → 3 s on
#: the interval join at 8). Production sizing: state-rows ÷ what fits
#: one executor's memory, set before the first batch (the count is
#: baked into the checkpoint).
STREAM_STATE_PARTITIONS = 8

#: the disk-backed state store, ``_run_stream(provider="rocksdb")``:
#: required by transformWithState, and the hand-off
#: stream_bpe_vocab_drift's state guard names (the rocksdbjni jar ships
#: with pyspark 4, so state is no longer bounded by executor heap)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


#: the query _run_stream finished last (read its receipts with
#: _plan_receipt)
last_query: StreamingQuery | None = None


def _run_stream(
    stream_df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    *,
    mode: str | None = None,
    ckpt: str | None = None,
    provider: str | None = None,
) -> StreamingQuery:
    """Run a streaming DataFrame to completion (availableNow) and return
    the finished query.

    ``sink`` is ``"memory"`` (a counter-named memory table,
    ``spark.table(q.name)``) or a ``foreachBatch`` function. A query
    captures the session's SQL confs when it STARTS, so the two it
    needs — shuffle partitions = STREAM_STATE_PARTITIONS and, with
    ``provider="rocksdb"``, the state-store provider — are set here and
    restored in ``finally``; a key that was unset is unset again. The
    provider is validated before any conf changes. The checkpoint this
    call creates is removed once the query has terminated: an
    availableNow run is never resumed, and its plan and progress stay
    readable from the query. A caller that passes ``ckpt`` (to resume
    across runs) owns it and removes it. The finished query is kept in
    ``last_query``."""
    global last_query
    if provider not in (None, "rocksdb"):
        raise ValueError(f"unknown state_store {provider!r}")
    spark = stream_df.sparkSession
    confs = {"spark.sql.shuffle.partitions": str(STREAM_STATE_PARTITIONS)}
    if provider:
        confs["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_PROVIDER
    prev = {k: spark.conf.get(k, None) for k in confs}
    own_ckpt = ckpt is None
    if own_ckpt:
        ckpt = tempfile.mkdtemp(prefix="kpws_ckpt_")
    q = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        w = stream_df.writeStream
        if mode:
            w = w.outputMode(mode)
        if sink == "memory":
            w = w.format("memory").queryName(f"kpws_stream_{next(_counter)}")
        else:
            w = w.foreachBatch(sink)
        q = (
            w.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        last_query = q
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        if own_ckpt and (q is None or not q.isActive):
            shutil.rmtree(ckpt, ignore_errors=True)
    return q


def _run_to_memory(
    stream_df: DataFrame, mode: str, provider: str | None = None
) -> DataFrame:
    """_run_stream into a memory sink: the sink table."""
    q = _run_stream(stream_df, "memory", mode=mode, provider=provider)
    return stream_df.sparkSession.table(q.name)


def _plan_receipt(q: StreamingQuery) -> dict:
    """A finished query's receipts for plan gates: the micro-batch
    PHYSICAL plan string (explainInternal on the terminated query reads
    its lastExecution — the plan that actually ran, where
    BroadcastHashJoin vs SortMergeJoin and StateStore presence are
    visible; a streaming DataFrame cannot be explain()ed to a physical
    plan before start) and the final progress's stateOperators list
    (empty ⇔ the query carried zero streaming state)."""
    return {
        "plan": q._jsq.explainInternal(True),
        "state_operators": (q.lastProgress or {}).get("stateOperators", []),
    }


@query(
    "stream_window_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S')
             AS win_start,
           event_type,
           count(*) AS n,
           (floor((sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) / 100.0)
                  * 1e4 + 0.5) / 1e4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling event-time window aggregation, executed as a
    streaming query (watermark + window + agg) into a memory sink.

    The reference has NO event-time windows (only wall-clock rotation,
    `KafkaProtoParquetWriter.java:299-302`); this is the Spark-native
    capability the ETL layer composes with.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("sum_cents"),
        )
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        pround(F.col("sum_cents") / 100.0, 4).alias("sum_value"),
    )


@query(
    "stream_window_sliding",
    oracle="""
    WITH base AS (
      SELECT event_type, value, ts,
             time_bucket(INTERVAL '5 minutes', ts) AS b
      FROM events
    ),
    w AS (
      SELECT event_type, value, b AS win_start FROM base
      UNION ALL
      SELECT event_type, value, b - INTERVAL '5 minutes' FROM base
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*) AS n,
           (floor((sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) / 100.0)
                  * 1e4 + 0.5) / 1e4) AS sum_value
    FROM w
    GROUP BY 1, 2
    """,
)
def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in
    exactly two windows), streaming execution. The oracle replicates
    each row into its two epoch-aligned window starts — bucket(ts, 5m)
    and that minus 5m — which is precisely Spark's window assignment
    for duration=2×slide."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("sum_cents"),
        )
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        pround(F.col("sum_cents") / 100.0, 4).alias("sum_value"),
    )


@query(
    "stream_stateful_count",
    oracle="""
    SELECT user_id, count(*) AS n,
           (floor((sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) / 100.0)
                  * 1e4 + 0.5) / 1e4) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, sum-of-cents) kept in GroupState, emitting
    the updated totals each batch. availableNow drains the fixture in
    one batch, so the final emission equals the batch aggregate — giving
    a real arbitrary-stateful-execution path a full value oracle.

    The reference's only state is Kafka offsets pending file flush
    (KafkaProtoParquetWriter.java:234,279); this is the general
    user-defined-state surface Spark adds on top.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running_totals(key, pdfs, state: GroupState):
        import numpy as np

        n, cents_sum = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # same floor(v*100 + 0.5) cents as the oracle (true floor,
            # not int() truncation — they differ on negatives)
            cents_sum += int(
                np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64").sum()
            )
        state.update((n, cents_sum))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "cents_sum": [cents_sum]}
        )

    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    counted = ev.groupBy("user_id").applyInPandasWithState(
        running_totals,
        outputStructType="user_id long, n long, cents_sum long",
        stateStructType="n long, cents_sum long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(counted, "update")
    return out.select(
        "user_id", "n", pround(F.col("cents_sum") / 100.0, 4).alias("sum_value")
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL '10 minutes'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click events joined to purchase
    events by the same user within 10 minutes after the click — the
    funnel query — executed as a genuine stream×stream join (both sides
    watermarked; Spark buffers each side in state and bounds it with
    the interval condition).

    Scale: state size is bounded by (watermark + interval) × arrival
    rate per side — not by stream length; the join itself shuffles both
    sides on user_id.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL 10 MINUTES
            """
        ),
    ).select("user_id", "click_id", "purchase_id")
    return _run_to_memory(joined, "append")


@query(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type): first
    occurrence wins; output is the distinct key set (deterministic
    regardless of which physical row won)."""
    ev = _events_stream(spark, sf_dir)
    dedup = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_memory(dedup, "append")


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
           count(*) AS n
    FROM sess
    GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user via streaming
    session_window; oracle reconstructs identical sessions with the
    lag+cumsum formulation (new session iff gap ≥ 30 min — matching
    session_window's [start, last+gap) merge rule)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "sess_start"
        ),
        "n",
    )


def stream_tws_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via **transformWithStateInPandas**
    (the Spark 4 successor to applyInPandasWithState): per-user running
    row count in a ValueState plus the set of seen event types in a
    MapState (set-semantics state the old GroupState tuple can't
    express incrementally), emitting updated totals each batch.

    GATED, not driver-declared (mirrors the tier-1 protobuf decoder):
    transformWithState's state protocol needs the `google.protobuf`
    Python package, absent from this environment — the TWS driver
    worker crashes in `StateMessage_pb2` import before user code runs.
    The operator is complete and runs wherever protobuf is installed
    (see tests/test_streaming_windows.py::test_tws_totals_gated);
    `stream_stateful_count` keeps the legacy GroupState path as the
    driver-checked arbitrary-state query. Expected result ≡
    SELECT user_id, count(*), count(DISTINCT event_type) GROUP BY 1.

    Scale: state lives in the per-partition RocksDB state store keyed
    by user; map-state inserts are O(1) per new event type, never
    rewriting the whole set — exactly why MapState exists instead of
    read-modify-write ValueState blobs.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class Totals(StatefulProcessor):
        def init(self, handle):
            self._n = handle.getValueState("n", "n long")
            self._types = handle.getMapState(
                "types", "event_type string", "seen boolean"
            )

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
                for t in pdf["event_type"].unique():
                    if not self._types.containsKey((str(t),)):
                        self._types.updateValue((str(t),), (True,))
            self._n.update((n,))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "n_types": [n_types]}
            )

        def close(self):
            pass

    ev = _events_stream(spark, sf_dir).select("user_id", "event_type")
    totals = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType="user_id long, n long, n_types long",
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state store
    return _run_to_memory(totals, "update", provider="rocksdb")


# --- incremental streaming near-dup dedup ----------------------------------


def _minhash_bucket_pairs(docs_df: DataFrame) -> DataFrame:
    """(doc, bucket) pairs: MinHash signature → LSH band buckets, using
    the same portable hashing as the batch dedup_minhash_lsh plan."""
    from kafka_parquet_writer_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_COEFFS,
        MINHASH_ROWS,
        SHINGLE_N,
        minhash_signatures,
    )
    from kafka_parquet_writer_spark.functions import texthash as TH

    sh = docs_df.select(
        F.col("doc_id").alias("doc"),
        F.explode(TH.word_shingles_expr("text", SHINGLE_N)).alias("shingle"),
    )
    sigs = minhash_signatures(sh, MINHASH_COEFFS)
    band_structs = [
        F.struct(
            F.concat_ws(
                ":",
                F.lit(j),
                *[F.col(f"h{j * MINHASH_ROWS + r}") for r in range(MINHASH_ROWS)],
            ).alias("bucket")
        )
        for j in range(MINHASH_BANDS)
    ]
    return sigs.select(
        "doc", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc", F.col("bs.bucket").alias("bucket"))


def _stream_dedup_minhash_oracle() -> str:
    from kafka_parquet_writer_spark.functions import texthash as TH
    from kafka_parquet_writer_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_COEFFS,
        MINHASH_ROWS,
        SHINGLE_N,
    )

    hs = ",\n      ".join(
        f"min({TH.sql_affine('tid', a, b)}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc, {j} AS band, concat_ws(',', {cols}) AS sig FROM sigs".format(
            j=j,
            cols=", ".join(f"h{j * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)),
        )
        for j in range(MINHASH_BANDS)
    )
    return f"""
    WITH sh AS ({TH.sql_shingle_cte('documents', 'doc_id', 'text', SHINGLE_N)}),
    st AS (SELECT doc, {TH.sql_portable_tid('shingle')} AS tid FROM sh),
    sigs AS (SELECT doc, {hs} FROM st GROUP BY doc),
    bands AS (
      {band_selects}
    ),
    dropped AS (
      SELECT DISTINCT a.doc FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND b.doc < a.doc
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc FROM dropped)
    """


@query("stream_dedup_minhash", oracle=_stream_dedup_minhash_oracle())
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental streaming near-dup dedup: documents arrive in
    doc_id-ordered micro-batches; each batch MinHash-LSH-buckets its
    docs, drops any doc sharing a bucket with an earlier doc (a
    versioned bucket→min-doc state table carries history; a self-join
    handles within-batch collisions), emits survivors, and merges its
    bucket minima into the next state version. The final kept set is
    proven equal to the one-shot batch computation — the oracle is the
    plain batch SQL ("drop any doc with a smaller same-bucket doc"),
    so the correctness gate checks the incremental/batch equivalence,
    the property that makes incremental corpus dedup trustworthy.

    Scale shape: per batch, one shuffle builds signatures (bounded by
    batch size), the history check is an equi-join against the state
    table on bucket (state is bucket-minima only — one row per bucket,
    far smaller than the corpus), and state rewrite is append+min — at
    production scale the state lives in the txlog table format
    (tablefmt.merge) keyed by bucket instead of full-file rewrite.
    Batch versioning (state_v{{bid}}, out/b{{bid}} with overwrite)
    makes micro-batch replay idempotent — the foreach_sink.py crash
    lesson applied.
    """
    stream, _, _ = _documents_stream(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="kpws_dedup_run_")
    state_base = os.path.join(work, "state")
    out_base = os.path.join(work, "kept")

    def merge(bdf: DataFrame, bid: int) -> None:
        sp = bdf.sparkSession
        pairs = _minhash_bucket_pairs(
            bdf.select("doc_id", "text")
        ).localCheckpoint(eager=True)
        prev_path = os.path.join(state_base, f"v{bid - 1}")
        if bid > 0:
            prev = sp.read.parquet(prev_path)
        else:
            prev = sp.createDataFrame([], "bucket string, min_doc long")
        hist_drop = (
            pairs.join(prev, "bucket")
            .where(F.col("min_doc") < F.col("doc"))
            .select("doc")
        )
        a, b = pairs.alias("a"), pairs.alias("b")
        intra_drop = (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("b.doc") < F.col("a.doc")),
            )
            .select(F.col("a.doc").alias("doc"))
        )
        dropped = hist_drop.unionByName(intra_drop).distinct()
        kept = bdf.select("doc_id").join(
            dropped, F.col("doc_id") == F.col("doc"), "left_anti"
        )
        kept.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_base, f"b{bid}")
        )
        new_state = (
            prev.unionByName(
                pairs.select("bucket", F.col("doc").alias("min_doc"))
            )
            .groupBy("bucket")
            .agg(F.min("min_doc").alias("min_doc"))
        )
        new_state.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(state_base, f"v{bid}")
        )

    _run_stream(stream, merge)
    return spark.read.parquet(
        *[
            os.path.join(out_base, f"b{i}")
            for i in range(DEDUP_STREAM_BATCHES)
        ]
    ).select("doc_id")


# --- streaming benchmark decontamination -----------------------------------


def _stream_decon_oracle() -> str:
    from kafka_parquet_writer_spark.operators.llm_prep import decon_oracle_sql

    return decon_oracle_sql()


@query("stream_decontaminate", oracle=_stream_decon_oracle())
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark decontamination: corpus documents arrive in
    doc_id-ordered micro-batches and each batch is scrubbed against the
    PRECOMPUTED benchmark shingle set (eval suites are fixed before a
    crawl starts — the realistic deployment: continuous decontamination
    of incoming crawl data). The head is the batch key's own
    `llm_prep.decon_matches` (shingle + broadcast join, a per-row map
    with zero streaming state) run into a memory sink; the tail is its
    own `decon_flag` (per-doc count and threshold) over the sunk rows.
    The count is exact over the union of micro-batches, so the result
    is EQUAL to `decontaminate_ngram`: same oracle SQL, so the gate
    checks streaming/batch equivalence, not just row counts.

    Scale shape: the benchmark side is built once (`bench_shingles`,
    localCheckpointed — micro-batch execution re-plans and re-runs an
    un-materialized static side every trigger) and broadcast into every
    batch; shingling is per-row; the only shuffle is the batch-side
    per-doc count over rows that matched — the batch plan's shape.
    """
    from kafka_parquet_writer_spark.operators.llm_prep import (
        bench_shingles,
        decon_flag,
        decon_matches,
    )

    bench = bench_shingles(load_table(spark, sf_dir, "documents")).localCheckpoint()
    stream, _, _ = _documents_stream(spark, sf_dir)
    return decon_flag(_run_to_memory(decon_matches(stream, bench), "append"))


# ---------------------------------------------------------------------------
# streaming quality gate (stateless at-ingest curation)
# ---------------------------------------------------------------------------

#: documents below this composite score never land in the corpus
STREAM_QUALITY_MIN = 0.55


def _quality_filter_oracle() -> str:
    from kafka_parquet_writer_spark.operators.text import _quality_oracle

    return f"""
    SELECT doc_id, quality FROM ({_quality_oracle()})
    WHERE quality >= {STREAM_QUALITY_MIN}
    """


@query("stream_quality_filter", oracle=_quality_filter_oracle())
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gating applied AT INGEST: the text_quality scorer runs
    per micro-batch over a documents stream and only rows at or above
    the threshold are emitted — the curation step moved from the
    nightly batch into the landing pipeline, so low-quality content
    never costs storage or downstream passes. Being stateless, the
    operator is watermark-free and its streaming output provably
    equals the batch filter (the oracle IS the batch formulation).

    Scale shape: pure per-row expressions (token stats via array ops,
    no explode, no state store) — parallelizes with the source and
    adds zero shuffles to the ingest plan.
    """
    from kafka_parquet_writer_spark.operators.text import quality_frame

    path = table_path(sf_dir, "documents")
    schema = table_schema(spark, path)
    docs = spark.readStream.schema(schema).parquet(_staged_dir(path))
    gated = (
        quality_frame(docs)
        .filter(F.col("quality") >= STREAM_QUALITY_MIN)
        .select("doc_id", "quality")
    )
    return _run_to_memory(gated, "append")


# ---------------------------------------------------------------------------
# streaming passage windowing (RAG index feed at ingest)
# ---------------------------------------------------------------------------


def _stream_passage_oracle() -> str:
    from kafka_parquet_writer_spark.operators.rag_prep import (
        _passage_oracle,
    )

    return _passage_oracle()


@query("stream_passage_windows", oracle=_stream_passage_oracle())
def stream_passage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-anchored passage windowing moved INTO the landing pipeline
    (the streaming half of the RAG surface, r11 VERDICT item 3):
    passages are emitted per micro-batch as documents arrive, so the
    embedding/index feed runs at ingest instead of as a nightly batch
    over the landed corpus. The transform is rag_prep.passage_frame —
    the exact function the batch key runs, covered by its 1..130-token
    boundary-sweep test — applied to the doc_id-ranged multi-file
    staging (maxFilesPerTrigger=1, so the query genuinely executes
    once per micro-batch).

    Being a stateless per-row map (words → start list → explode →
    slice → hash), the operator needs no watermark and no state store
    — state is O(1) per document: nothing outlives the micro-batch,
    and append-mode output provably equals the batch formulation,
    which is exactly what the oracle checks (the batch key's own SQL,
    hash-exact per passage).

    Scale shape: zero shuffles added to the ingest plan — the explode
    parallelizes with the source; at 100 TB/day this is the map stage
    feeding the embedding UDF with ~n/S ≈ 3-4× row amplification,
    absorbed by source batch sizing (maxFilesPerTrigger /
    maxBytesPerTrigger), never by a repartition.
    """
    from kafka_parquet_writer_spark.operators.rag_prep import passage_frame

    src, _, _ = _documents_stream(spark, sf_dir)
    return _run_to_memory(passage_frame(src), "append")


# ---------------------------------------------------------------------------
# streaming CDC apply (upsert/delete feed → materialized current state)
# ---------------------------------------------------------------------------

#: micro-batches the CDC feed is split into
CDC_STREAM_BATCHES = 4
#: event_type treated as a DELETE tombstone; everything else upserts
CDC_DELETE_TYPE = "error"


@query(
    "stream_cdc_apply",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_id, event_type,
             {sql_cents('value')} AS vc,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_ops
      FROM events
    )
    SELECT user_id, event_id AS last_event_id, vc AS value_c, n_ops
    FROM ranked
    WHERE rn = 1 AND event_type <> '{CDC_DELETE_TYPE}'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: a change feed (upserts keyed by user_id;
    '{CDC_DELETE_TYPE}' rows are delete tombstones) streams in
    micro-batches and is folded into a materialized current-state
    table via foreachBatch — last writer by (ts, event_id) wins, a
    per-key op counter accumulates across batches, and tombstoned keys
    disappear from the final read. The oracle is the batch
    formulation over the full feed, so the green row proves
    incremental apply ≡ one-shot apply.

    Scale shape: each batch folds into the state with one window over
    state ∪ batch — O(state) per batch here, versioned like the
    minhash bucket state. In production the state table is
    tablefmt.merge's file-pruned MERGE (only files containing touched
    keys rewrite); the fold logic (latest-by-version, counter
    accumulation, tombstone semantics) is exactly what's proven here.
    """
    # the feed is staged from the normalized table, so its streaming
    # schema is plain TIMESTAMP, not raw long-nanos
    stream, _, _ = _ranged_stream(
        spark,
        sf_dir,
        "events",
        load_table(spark, sf_dir, "events"),
        "event_id",
        CDC_STREAM_BATCHES,
    )
    state_base = tempfile.mkdtemp(prefix="kpws_cdc_state_")
    holder: dict[str, str | None] = {"state": None}

    from pyspark.sql.window import Window as W

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        b = bdf.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            cents(F.col("value")).alias("vc"),
        ).withColumn("n_ops", F.lit(1).cast("long"))
        prev = holder["state"]
        cur = (
            b.unionByName(bdf.sparkSession.read.parquet(prev))
            if prev
            else b
        )
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            cur.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "tot", F.sum("n_ops").over(W.partitionBy("user_id"))
            )
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                "ts",
                "event_id",
                "event_type",
                "vc",
                F.col("tot").alias("n_ops"),
            )
        )
        out = os.path.join(state_base, f"state_b{bid}")
        latest.write.mode("overwrite").parquet(out)
        holder["state"] = out

    _run_stream(stream, apply_batch)
    return (
        spark.read.parquet(holder["state"])
        .filter(F.col("event_type") != CDC_DELETE_TYPE)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("vc").alias("value_c"),
            "n_ops",
        )
    )


#: trending: top event types per window
TREND_TOPK = 3


@query(
    "stream_topk_trending",
    oracle=f"""
    WITH counts AS (
      SELECT strftime(time_bucket(INTERVAL '5 minutes', ts),
                      '%Y-%m-%d %H:%M:%S') AS win_start,
             event_type,
             count(*) AS n
      FROM events
      GROUP BY 1, 2
    )
    SELECT win_start, event_type, n,
           CAST(row_number() OVER (PARTITION BY win_start
                                   ORDER BY n DESC, event_type)
                AS INTEGER) AS rnk
    FROM counts
    QUALIFY row_number() OVER (PARTITION BY win_start
                               ORDER BY n DESC, event_type) <= {TREND_TOPK}
    """,
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending dashboard: the top-{TREND_TOPK} event types per
    5-minute window. The HEAVY aggregation (per-window per-type
    counts over the full stream) runs as a real streaming query —
    watermark + tumbling window into the state store; the rank is a
    batch epilogue over the streamed aggregate, which is how trending
    is served in production (ranking inside append-mode streaming is
    unsupported by design: a rank can change until the window closes).

    Scale shape: streaming side is one keyed state store
    (|windows|×|types| rows); the epilogue windows over that tiny
    aggregate, never over events.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_memory(agg, "complete")
    from pyspark.sql.window import Window as W

    counts = out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "win_start"
        ),
        "event_type",
        "n",
    )
    w = W.partitionBy("win_start").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TREND_TOPK)
        .select("win_start", "event_type", "n", F.col("rnk").cast("int"))
    )


# ---------------------------------------------------------------------------
# watermark late-data policy, proven (checkpointed watermark drops late rows)
# ---------------------------------------------------------------------------

#: the on-time stream races ahead of this split point; everything
#: before it arrives in a LATER RUN - uniformly late
LATE_SPLIT_TS = "2024-01-16 00:00:00"
#: watermark delay
LATE_WM_MIN = 10


@query(
    "stream_late_data_drop",
    oracle=f"""
    WITH wm AS (
      SELECT max(ts) - INTERVAL '{LATE_WM_MIN} minutes' AS w FROM events
    ),
    on_time AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, count(*) AS n
      FROM events
      WHERE ts >= TIMESTAMP '{LATE_SPLIT_TS}'
      GROUP BY 1
    )
    SELECT strftime(b, '%Y-%m-%d %H:%M:%S') AS win_start, n
    FROM on_time, wm
    WHERE b + INTERVAL '5 minutes' <= w
    """,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark's late-data POLICY, proven across a restart: run 1
    drains the newer half of the stream and checkpoints a watermark
    weeks past the older half; run 2 RESUMES from that checkpoint and
    receives the older half - every row targets a window already
    finalized, so the restored watermark must drop them all and emit
    nothing new. The oracle constructs the expected final emission
    relationally (on-time rows, windows ending at or before
    max(ts) - {LATE_WM_MIN} min), so a green row proves three things
    at once: late rows dropped, open windows withheld, and the
    watermark SURVIVING checkpoint recovery (within one fresh run
    Spark's availableNow filters with the run-start watermark, so a
    single-run formulation would silently not exercise the drop path
    at all - measured, not assumed).

    Boundary determinism: window ends are 5-minute-aligned while the
    watermark inherits the max event time's sub-second offset - the
    two can never be equal, so emit/withhold can't flip on an
    engine-precision tie.

    Scale shape: the same single keyed state store as any windowed
    count; late-row filtering is a per-row predicate before state
    lookup, which is why watermarks bound state size at 100 TB -
    closed windows cost nothing, late floods touch no state.
    """
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(LATE_SPLIT_TS).cast("timestamp")
    src = tempfile.mkdtemp(prefix="kpws_late_src_")
    ckpt = tempfile.mkdtemp(prefix="kpws_late_ckpt_")
    # the returned frame reads out_dir lazily: it lives as long as the
    # process
    out_dir = tempfile.mkdtemp(prefix="kpws_late_out_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    agg = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .withWatermark("ts", f"{LATE_WM_MIN} minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    flat = agg.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "win_start"
        ),
        "n",
    )

    def append_out(df: DataFrame, bid: int) -> None:
        df.write.mode("append").parquet(out_dir)

    try:
        # run 1: only the on-time half exists; its no-data final batch
        # emits every window the advanced watermark closes
        on_time = ev.filter(F.col("ts") >= split)
        _write_file(on_time, os.path.join(src, "000.parquet"))
        _run_stream(flat, append_out, mode="append", ckpt=ckpt)
        # run 2: the older half arrives after a restart; the checkpointed
        # watermark must drop all of it
        late = ev.filter(F.col("ts") < split)
        _write_file(late, os.path.join(src, "001.parquet"))
        _run_stream(flat, append_out, mode="append", ckpt=ckpt)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(out_dir)


# --- stream_session_features ------------------------------------------------

SESS_GAP_S = 1800  #: inactivity gap that closes a session (seconds)


def make_sessionizer(gap: int):
    """Factory for stream_session_features' stateful closure, at module
    scope so tests exercise the PRODUCTION multi-batch state contract
    instead of a drift-prone copy.

    Replay order is (es, event_id) with es = ts floored to whole
    seconds — NOT raw nanosecond ts — because the oracle's window is
    ORDER BY es, event_id: two same-user events inside one floored
    second whose event_id order opposes their sub-second ts order must
    sessionize identically in both engines.
    """
    import numpy as np
    import pandas as pd

    def sessionize(key, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # unit-safe second floor: Spark's Arrow bridge hands ts over as
        # datetime64[ns] today, but a bare astype(int64)//1e9 would
        # silently break if a pandas upgrade delivers datetime64[us]
        # (plain-pyarrow reads already do) — cast to second precision
        # first, then to int64
        pdf["es"] = pdf["ts"].astype("datetime64[s]").astype("int64")
        pdf = pdf.sort_values(
            ["es", "event_id"], kind="mergesort", ignore_index=True
        )
        es = pdf["es"].to_numpy()
        types = pdf["event_type"].to_numpy()
        vc = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64")
        if state.exists:
            seq0, fe0, le0, lt0, n0, c0 = state.get
        else:
            seq0, fe0, le0, lt0, n0, c0 = 0, 0, None, None, 0, 0
        m = len(es)
        brk = np.ones(m, dtype=bool)
        if m > 1:
            brk[1:] = (es[1:] - es[:-1] >= gap) | (types[:-1] == "purchase")
        if le0 is not None and es[0] - le0 < gap and lt0 != "purchase":
            brk[0] = False  # batch head continues the stored tail
        # group ids within this batch: 0 = continues the stored tail
        # (only when brk[0] is False), 1.. are fresh sessions; session
        # seq is seq0 + gid under either head
        grp = np.cumsum(brk)
        out = {
            "user_id": [], "sess_seq": [], "n_events": [],
            "dur_secs": [], "cents_sum": [], "converted": [],
        }
        uid = key[0]
        last = None
        for gid in range(int(grp[0]), int(grp[-1]) + 1):
            sel = grp == gid
            n = int(sel.sum())
            fe, le = int(es[sel][0]), int(es[sel][-1])
            c = int(vc[sel].sum())
            lt = str(types[sel][-1])
            if gid == 0:
                # merged with the stored tail
                fe, n, c = fe0, n + n0, c + c0
            seq = seq0 + gid
            out["user_id"].append(uid)
            out["sess_seq"].append(seq)
            out["n_events"].append(n)
            out["dur_secs"].append(le - fe)
            out["cents_sum"].append(c)
            out["converted"].append(lt == "purchase")
            last = (seq, fe, le, lt, n, c)
        if last is not None:
            state.update(last)
        yield pd.DataFrame(out)

    return sessionize


@query(
    "stream_session_features",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS es,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS vc
      FROM events
    ),
    o AS (
      SELECT *,
             lag(es) OVER w AS pes,
             lag(event_type) OVER w AS pet
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ),
    m AS (
      SELECT *,
             CASE WHEN pes IS NULL OR es - pes >= {SESS_GAP_S}
                       OR pet = 'purchase'
                  THEN 1 ELSE 0 END AS brk
      FROM o
    ),
    g AS (
      SELECT *,
             sum(brk) OVER (PARTITION BY user_id ORDER BY es, event_id
                            ROWS UNBOUNDED PRECEDING) AS seq
      FROM m
    ),
    g2 AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, seq
                                ORDER BY es DESC, event_id DESC) AS rd
      FROM g
    )
    SELECT user_id,
           CAST(seq AS BIGINT) AS sess_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(es) - min(es) AS BIGINT) AS dur_secs,
           CAST(sum(vc) AS BIGINT) AS cents_sum,
           bool_or(rd = 1 AND event_type = 'purchase') AS converted
    FROM g2
    GROUP BY user_id, seq
    """,
)
def stream_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SESSIONIZATION with per-session feature vectors via
    applyInPandasWithState — sessions close on a {SESS_GAP_S}s
    inactivity gap OR immediately after a 'purchase' event
    (conversion-terminated sessions). Built-in session_window can only
    express the gap rule; the event-content-dependent close is exactly
    what the arbitrary-state API exists for. Emits per session:
    event count, duration, exact cents sum, and whether it converted.
    stream_stateful_count covers the API's plumbing with running
    counters; this key exercises real per-key SEQUENCE logic (ordered
    replay, cross-batch session tail carry) on top.

    State carries the open-session tail (seq, first/last second, last
    type, count, cents); each batch sorts its rows per key by
    (es, event_id) — es = second-floored ts, matching the oracle's
    window order — merges the head with the tail when no break
    separates them, emits every session closed in the batch plus the
    updated tail (update-mode semantics; availableNow drains the
    fixture in one batch, so the emission equals the batch
    sessionization and the oracle is exact). The closure itself is
    built by module-level ``make_sessionizer`` so the cross-batch
    tail-merge test drives the production code.

    Scale: state is one fixed-size tuple per user in the partition's
    state store — O(users) total, never O(events); per-batch work is
    one sort of that key's batch rows. At 100 TB the sort is per
    (key, batch) micro-chunks, not a global order.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        make_sessionizer(SESS_GAP_S),
        outputStructType=(
            "user_id long, sess_seq long, n_events long, "
            "dur_secs long, cents_sum long, converted boolean"
        ),
        stateStructType=(
            "seq long, first_e long, last_e long, "
            "last_type string, n long, cents long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(sessions, "update")
    return out.select(
        "user_id", "sess_seq", "n_events", "dur_secs", "cents_sum",
        "converted",
    )


# ---------------------------------------------------------------------------
# stream-static enrichment join (dimension broadcast into the stream)
# ---------------------------------------------------------------------------


@query(
    "stream_static_enrich",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', e.ts),
                    '%Y-%m-%d %H:%M:%S') AS win_start,
           c.c_mktsegment AS segment,
           count(*) AS n,
           CAST(sum(CAST(floor(e.value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the single most common Structured
    Streaming enrichment pattern, and the one §2C key the suite
    lacked: each micro-batch of the events stream is enriched with
    the (batch) customer dimension via a broadcast hash join BEFORE
    the watermarked window aggregate, producing hourly revenue per
    market segment. The reference lands raw bytes and leaves
    enrichment to downstream batch jobs; doing it in-stream is the
    capability that replaces that second pipeline.

    Semantics: the static side is re-resolved per micro-batch (Spark
    reloads the batch plan), so a dimension update between batches is
    picked up automatically — at-least-once enrichment freshness with
    NO state store involvement: the join adds zero streaming state,
    only the downstream window aggregate holds state. The oracle is
    the batch join+rollup, proving streaming ≡ batch.

    Scale shape: dimension broadcast (bounded — segments/customers of
    interest), stream side never shuffles for the join; the only
    stateful shuffle is the window aggregate's, with map-side partial
    aggregation collapsing each batch before the store.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("cents"),
        )
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "win_start"
        ),
        "segment",
        "n",
        F.col("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# streaming subsequence similarity match (continuous pattern search)
# ---------------------------------------------------------------------------

#: deliberate duplicates of timeseries.SUBSEQ_L / SUBSEQ_Q (closure
#: independence — the batch and streaming keys are separate operators;
#: drift between them changes BOTH oracles, caught by either gate)
STREAM_SUBSEQ_L = 8
STREAM_SUBSEQ_Q = [
    -0.629941, -0.629941, 0.377964, 2.393775,
    0.377964, -0.629941, -0.629941, -0.629941,
]
#: continuous-query match threshold on the floor-rounded z-distance —
#: the streaming form of similarity search reports every window below
#: a distance bound as it completes (a global top-K is not a streaming
#: operator; the bound is). 4.0 selects ~5% of windows on the fixtures.
STREAM_SUBSEQ_THRESH = 4.0


def make_subseq_matcher(length: int, qshape: list, thresh: float):
    """Factory for stream_subsequence_match's stateful closure, at
    module scope so tests drive the PRODUCTION cross-batch contract.

    State carries the last ``length − 1`` cents values of the user's
    series (in replay order (tu, event_id), tu = integer microseconds —
    the batch oracle's window order). Each batch prepends the tail,
    slides a length-``length`` window over the concatenation, and
    emits (event_id, d2) for every window ENDING at a new event whose
    floor-rounded z-normalized distance to the constant query shape is
    below ``thresh`` (constant windows, std = 0, cannot be z-normalized
    and are skipped). Windows ending inside the tail were emitted by an
    earlier batch and are excluded by construction.

    Float portability (same argument as the batch twin): cents are
    exact int64, the window sum and mean (÷length, a power of two —
    asserted below) are exact, deviations are exact multiples of
    1/length with exactly-representable squares, so ssq is exact
    regardless of association; sd and each z-score are single
    correctly-rounded IEEE ops; the only association-sensitive sum is
    the final distance chain, accumulated LEFT-TO-RIGHT in vectorized
    numpy adds — elementwise the same chain the DuckDB oracle writes —
    then floor-rounded to 6 decimals before the threshold compare.

    ORDERING CONTRACT: incremental ≡ batch holds for IN-ORDER arrival
    only. Within a batch rows are replayed in (tu, event_id) order, but
    the carried tail is always treated as OLDER than every new row — an
    event arriving with tu behind the tail slots after it, producing
    windows the batch oracle would order differently. The declared key
    runs availableNow (single batch), where the contract is exact;
    late-data behavior is pinned by
    tests/test_round10_ops.py::test_subseq_matcher_late_data_divergence.
    """
    import numpy as np
    import pandas as pd

    assert length >= 2 and length & (length - 1) == 0, (
        "subsequence window length must be a power of two >= 2 (mean "
        "exactness: the cents sum divides exactly by 2^k; length 1 is "
        "degenerate — every 1-window has std 0 and can never match — "
        "and its tail slice vc[-0:] would keep the WHOLE series in "
        "state instead of the documented last length-1 values)"
    )
    flen = float(length)
    qa = [float(v) for v in qshape]

    def match(key, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf[pdf["value"].notna()]
        out = {"user_id": [], "event_id": [], "d2": []}
        uid = key[0]
        if len(pdf) > 0:
            # unit-safe micros (the sessionizer lesson: never assume
            # the Arrow bridge's datetime64 resolution)
            pdf = pdf.assign(
                tu=pdf["ts"].astype("datetime64[us]").astype("int64")
            ).sort_values(["tu", "event_id"], kind="mergesort")
            vc_new = np.floor(
                pdf["value"].to_numpy() * 100.0 + 0.5
            ).astype("int64")
            eid_new = pdf["event_id"].to_numpy()
            tail = list(state.get[0]) if state.exists else []
            vc = np.concatenate(
                [np.asarray(tail, dtype="int64"), vc_new]
            )
            n_tail = len(tail)
            if len(vc) >= length:
                full = np.lib.stride_tricks.sliding_window_view(vc, length)
                j0 = max(0, n_tail - length + 1)
                win = full[j0:]
                s8 = win.sum(axis=1)
                mn = s8 / flen
                dev = win.astype("float64") - mn[:, None]
                ssq = dev[:, 0] * dev[:, 0]
                for i in range(1, length):
                    ssq = ssq + dev[:, i] * dev[:, i]
                ok = ssq > 0
                with np.errstate(divide="ignore", invalid="ignore"):
                    sd = np.sqrt(ssq / flen)
                    z0 = dev[:, 0] / sd - qa[0]
                    d2 = z0 * z0
                    for i in range(1, length):
                        zi = dev[:, i] / sd - qa[i]
                        d2 = d2 + zi * zi
                d2r = np.floor(d2 * 1e6 + 0.5) / 1e6
                hit = ok & (d2r < thresh)
                # window j (global) ends at vc index j + length - 1;
                # its event is eid_new[j + length - 1 - n_tail]
                for j in np.nonzero(hit)[0]:
                    end = j0 + int(j) + length - 1 - n_tail
                    out["user_id"].append(int(uid))
                    out["event_id"].append(int(eid_new[end]))
                    out["d2"].append(float(d2r[int(j)]))
            state.update(([int(v) for v in vc[-(length - 1):]],))
        yield pd.DataFrame(out)

    return match


def _stream_subseq_oracle() -> str:
    """Batch twin of the continuous match (incremental ≡ batch, the
    suite's streaming-oracle convention): identical lag-window /
    cents / left-chain distance SQL as ts_subsequence_topk's oracle,
    with the top-K replaced by the threshold filter. The mean/std
    divisors derive from L (power of two, asserted — the exactness
    argument's only L-dependence)."""
    L, q, th = STREAM_SUBSEQ_L, STREAM_SUBSEQ_Q, STREAM_SUBSEQ_THRESH
    assert L >= 2 and L & (L - 1) == 0, (
        "STREAM_SUBSEQ_L must be 2^k, k >= 1 (matcher contract)"
    )
    lags = ", ".join(
        f"lag(vc, {L - 1 - i}) OVER w AS v{i + 1}" for i in range(L)
    )
    s8 = " + ".join(f"v{i + 1}" for i in range(L))
    ssq = " + ".join(f"(v{i + 1} - mn) * (v{i + 1} - mn)" for i in range(L))
    d2 = " + ".join(
        f"((v{i + 1} - mn) / sd - ({q[i]})) * "
        f"((v{i + 1} - mn) / sd - ({q[i]}))"
        for i in range(L)
    )
    vs = ", ".join(f"v{i + 1}" for i in range(L))
    return f"""
    WITH x AS (
      SELECT user_id, event_id, epoch_us(ts) AS tu,
             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL
    ), lagged AS (
      SELECT user_id, event_id, {lags}
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
    ), st AS (
      SELECT user_id, event_id, {vs}, ({s8}) / {float(L)!r} AS mn
      FROM lagged WHERE v1 IS NOT NULL
    ), ss AS (
      SELECT user_id, event_id, {vs}, mn, ({ssq}) AS ssq FROM st
    ), zd AS (
      SELECT user_id, event_id, {vs}, mn, sqrt(ssq / {float(L)!r}) AS sd
      FROM ss WHERE ssq > 0
    ), d AS (
      SELECT user_id, event_id,
             (floor(({d2}) * 1e6 + 0.5) / 1e6) AS d2
      FROM zd
    )
    SELECT user_id, event_id, d2 FROM d WHERE d2 < {th}
    """


@query("stream_subsequence_match", oracle=_stream_subseq_oracle())
def stream_subsequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS time-series subsequence search — the streaming twin
    of ts_subsequence_topk and the actual setting of the retrieved
    EDBT 2019 paper ('Time Series Similarity Search for Streaming Data
    in Distributed Systems'): as each user's events arrive, every
    completed length-{STREAM_SUBSEQ_L} window whose z-normalized
    distance to the query shape falls below {STREAM_SUBSEQ_THRESH} is
    emitted immediately. A distance BOUND, not a top-K, is the
    streaming form of the query: matches must fire on arrival, not
    after a global sort.

    State is the last {STREAM_SUBSEQ_L}−1 cents values per user — a
    fixed-size array in the state store, O(users) total, never
    O(events); per batch the work is one per-key sort plus vectorized
    window math over that key's batch rows. availableNow drains the
    fixture in one batch, so the emission equals the batch scan and
    the oracle (the identical lag-window SQL with the threshold
    filter) is exact; the cross-batch tail carry is driven directly by
    tests on the module-level make_subseq_matcher closure.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "value"
    ).filter(F.col("value").isNotNull())
    matches = ev.groupBy("user_id").applyInPandasWithState(
        make_subseq_matcher(
            STREAM_SUBSEQ_L, STREAM_SUBSEQ_Q, STREAM_SUBSEQ_THRESH
        ),
        outputStructType="user_id long, event_id long, d2 double",
        stateStructType="vals array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(matches, "update")
    return out.select("user_id", "event_id", "d2")


# ---------------------------------------------------------------------------
# streaming BPE vocabulary drift (incremental tokenizer pair-stats)
# ---------------------------------------------------------------------------

BPE_DRIFT_TOPK = 40  #: pairs reported
#: doc_id-ranged corpus epochs == micro-batches (reuses the dedup
#: stream staging, so each epoch arrives as its own micro-batch)
BPE_DRIFT_EPOCHS = DEDUP_STREAM_BATCHES
#: loud ceiling on the complete-mode drift state (distinct
#: (epoch, a, b) rows). Sized for a single-box memory state store:
#: ~2M rows × ~100 B ≈ 200 MB. State is O(distinct pairs × epochs) —
#: on a SHARED vocabulary it stays vocabulary-bounded (the bpedrift
#: scale lane measured it flat under ×8 token growth), but a
#: decorrelated corpus (per-epoch vocabularies) breaks that bound, so
#: the guard is code, not prose (r10 VERDICT item 6): past the
#: ceiling, raise loudly and name the hand-offs — never silently
#: truncate a statistic the tokenizer owner will act on.
BPE_DRIFT_MAX_STATE_ROWS = 2_000_000


def _drift_state_guard(state: DataFrame, max_rows: int | None = None) -> DataFrame:
    """Assert the drift state table fits the declared ceiling.

    The count reads the already-materialized memory-sink state table
    (state rows, never the corpus). Mirrors the ANN family's
    loud-assert-never-silently-cap discipline (dedup.py, the
    ANN_DEDUP_MAX_LITERAL_CELLS hand-off): the 100 TB mitigations —
    RocksDB state store partitioned by pair hash, or a
    text_heavy_hitters-style support pre-filter (keep a pair's state
    only once its running count clears the support threshold, the
    Misra-Gries trade) — change operational semantics and must be an
    explicit owner decision, not an invisible cap."""
    cap = BPE_DRIFT_MAX_STATE_ROWS if max_rows is None else max_rows
    n = state.count()
    if n > cap:
        raise ValueError(
            f"stream_bpe_vocab_drift state has {n} (epoch, pair) rows, "
            f"over the {cap}-row in-memory ceiling — the corpus "
            "vocabulary is decorrelating across epochs. Re-run with "
            "state_store='rocksdb' (disk-backed store, exact results) "
            "or min_support > 1 (support pre-filter: pairs below the "
            "threshold never enter state — a documented undercount "
            "trade). Both are code paths here; neither is applied "
            "silently."
        )
    return state


def _run_support_filtered(
    pairs: DataFrame, min_support: int
) -> DataFrame:
    """The drift key's SUPPORT-PRE-FILTERED state builder (opt-in via
    stream_bpe_vocab_drift's ``min_support`` — the Misra-Gries-style
    trade the state guard names, promoted from error-message prose to
    code, r11 VERDICT item 6).

    Per micro-batch: pair counts are aggregated BATCH-LOCALLY (no
    state store), rows below ``min_support`` are dropped, and only the
    survivors append to the accumulated state (a parquet accumulator —
    the durable analogue of the memory sink, and the scale-honest one:
    survivors land partitioned, never on the driver). Because the
    staging maps one epoch per micro-batch, the filter is exactly a
    per-epoch support threshold, so state holds only (epoch, pair)
    rows whose count cleared ``min_support`` in their epoch.

    SEMANTICS DELTA vs the exact path (document before opting in): a
    pair with per-epoch count < min_support in SOME epochs is
    undercounted in n_total/n_early/n_late by exactly those epochs'
    contributions, and a pair below threshold everywhere disappears
    entirely. The top-K heavy pairs the key reports are unaffected
    whenever min_support ≪ their per-epoch counts — the same trade
    text_heavy_hitters' support threshold makes in batch. The filter
    is applied per MICRO-BATCH: if a staging ever mapped several
    files to one epoch, support would bind per file, a strictly
    stronger filter.

    EXACTLY-ONCE: each micro-batch OVERWRITES its own batch-id-named
    subdirectory (the standard idempotent-foreachBatch shape —
    ``append`` to a shared dir would double-count (epoch, pair) rows
    when the engine retries a batch after a sink failure, r12
    ADVICE). The final read lists the batch dirs with an explicit
    schema, so a run where every batch filters out every pair yields
    an empty TYPED result instead of a schemaless-directory read
    error.
    """
    acc = tempfile.mkdtemp(prefix="kpws_drift_acc_")
    _run_stream(
        pairs, lambda bdf, bid: _fold_support_batch(bdf, bid, acc, min_support)
    )
    return _read_support_accumulator(pairs.sparkSession, acc)


#: the support accumulator's fixed on-disk schema — read with it
#: explicitly so an all-filtered run (zero batch dirs / all-empty
#: batch dirs) still yields a typed empty DataFrame, never a
#: schema-inference error on an empty directory (r12 ADVICE).
_SUPPORT_STATE_SCHEMA = "epoch BIGINT, a STRING, b STRING, n BIGINT"


def _fold_support_batch(
    batch_df: DataFrame, batch_id: int, acc: str, min_support: int
) -> None:
    """One micro-batch of the support pre-filter, written IDEMPOTENTLY:
    the batch-local aggregate lands in a subdirectory named by the
    batch id with mode("overwrite"), so a batch the engine retries
    after a sink failure REPLACES its own rows instead of appending a
    second copy (the standard idempotent-foreachBatch shape; plain
    append to a shared dir double-counted (epoch, pair) rows on
    retry — r12 ADVICE). The dir name uses '-' not '=' so the final
    read never mistakes it for a Hive partition column."""
    (
        batch_df.groupBy("epoch", "a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_support)
        .write.mode("overwrite")
        .parquet(os.path.join(acc, f"batch-{batch_id}"))
    )


def _read_support_accumulator(spark: SparkSession, acc: str) -> DataFrame:
    """Union of the batch-id dirs under ``acc`` with the accumulator's
    explicit schema; empty (every batch filtered everything, or the
    stream saw zero batches) → typed empty DataFrame.

    Listing goes through the Hadoop FileSystem API (the same layer the
    executors wrote through), NOT driver-local ``os.listdir`` — on a
    real cluster the accumulator lives on a shared/remote FS (HDFS,
    object store) where a local listdir would miss or fail; resolving
    the path against its own FileSystem keeps the read
    deployment-agnostic (r13 ADVICE)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(acc)
    fs = root.getFileSystem(hconf)
    batch_dirs = (
        sorted(
            st.getPath().toString()
            for st in fs.listStatus(root)
            if st.getPath().getName().startswith("batch-")
        )
        if fs.exists(root)
        else []
    )
    if not batch_dirs:
        return spark.createDataFrame([], _SUPPORT_STATE_SCHEMA)
    return spark.read.schema(_SUPPORT_STATE_SCHEMA).parquet(*batch_dirs)


def _bpe_drift_oracle() -> str:
    """Batch twin of the incremental pair-stats aggregate (incremental
    ≡ batch, the suite's streaming-oracle convention). Epochs derive
    from doc_id with the SAME lo/span arithmetic the stage splitter
    uses, so the grouping is deterministic in the data, independent of
    file→micro-batch mapping. The drift stat uses two NON-NEGATIVE
    integer divisions (late/early per-mille of the pair's total) —
    truncation agrees across engines only away from negatives.

    Pair extraction is a LOCKSTEP dual unnest over the two shifted
    slices of ws — DuckDB zips same-SELECT unnests positionally, the
    exact pairing Spark's sequence(1, size(ws) − 1) transform emits.
    The first cut cross-joined range(1, 1000000), silently capping at
    999,999 words/doc where the Spark side has no cap (r10 ADVICE);
    the slice form is bound by the data itself."""
    from kafka_parquet_writer_spark.functions import texthash as TH

    B, K, half = BPE_DRIFT_EPOCHS, BPE_DRIFT_TOPK, BPE_DRIFT_EPOCHS // 2
    return f"""
    WITH bounds AS (
      SELECT min(doc_id) AS lo,
             (max(doc_id) - min(doc_id) + {B}) // {B} AS span
      FROM documents
    ), w AS (
      SELECT doc_id, {TH.sql_words('text')} AS ws FROM documents
    ), pairs AS (
      SELECT CAST((w.doc_id - bd.lo) // bd.span AS BIGINT) AS epoch,
             unnest(ws[1:len(ws) - 1]) AS a,
             unnest(ws[2:len(ws)]) AS b
      FROM w CROSS JOIN bounds bd
    ), agg AS (
      SELECT a, b,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN epoch < {half} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_early,
             CAST(sum(CASE WHEN epoch >= {half} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_late
      FROM pairs GROUP BY a, b
    )
    SELECT a, b, n_total, n_early, n_late,
           CAST(n_late * 1000 // n_total - n_early * 1000 // n_total
             AS BIGINT) AS drift_milli
    FROM agg
    ORDER BY n_total DESC, a, b
    LIMIT {K}
    """


@query("stream_bpe_vocab_drift", oracle=_bpe_drift_oracle())
def stream_bpe_vocab_drift(
    spark: SparkSession,
    sf_dir: str,
    min_support: int | None = None,
    state_store: str | None = None,
) -> DataFrame:
    """Streaming VOCABULARY DRIFT — the tokenizer story's continuous
    half (the r9 SURVEY's own r10 candidate): documents arrive in
    doc_id-ordered micro-batches (corpus epochs), and a streaming
    stateful aggregate maintains per-epoch adjacent-pair counts — the
    statistic a BPE trainer maximizes (text_bpe_merge_candidates'
    batch form, corpus_prep.py) — incrementally, one state update per
    micro-batch. The final report: the top-{BPE_DRIFT_TOPK} pairs by
    total count with early→late drift in per-mille of the pair's
    occurrences, the signal that tells a tokenizer owner WHEN the
    merge table trained on epoch-0 data has gone stale.

    Incremental ≡ batch: epochs derive from doc_id (same lo/span
    arithmetic as the stage splitter), not from batch ids, so the
    DuckDB batch oracle reproduces the exact grouping; the streaming
    state (complete-mode agg keyed (epoch, a, b)) is what accumulates
    across the {BPE_DRIFT_EPOCHS} micro-batches.

    Scale shape: per micro-batch, pair extraction is an array-domain
    per-row transform (NO positional self-join — that would shuffle
    the exploded corpus twice), then ONE shuffle into the state store
    with map-side partial aggregation (distinct pairs, not
    occurrences, cross the wire). State is O(distinct pairs × epochs),
    bounded by observed-vocab² — guarded IN CODE by
    BPE_DRIFT_MAX_STATE_ROWS (_drift_state_guard raises loudly past
    it, naming the RocksDB-store hand-off and the ``min_support``
    pre-filter, which is itself a code path here: opt in via the
    keyword to drop below-support pairs before state insertion, with
    the undercount trade documented on _run_support_filtered);
    the drift finisher reads only the state table, never the corpus.
    Events-side ingest parity: the reference lands raw bytes and would
    recompute these stats in a nightly batch (KafkaProtoParquetWriter
    has no transform stage); computing them in-stream replaces that
    second pipeline.
    """
    from kafka_parquet_writer_spark.functions import texthash as TH

    half = BPE_DRIFT_EPOCHS // 2
    src, lo, span = _documents_stream(spark, sf_dir)
    w = src.select(
        F.expr(f"(doc_id - {lo}) div {span}").alias("epoch"),
        TH.words_expr("text").alias("ws"),
    ).filter(F.size("ws") >= 2)
    pairs = w.select(
        "epoch",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(ws[i - 1] AS a, ws[i] AS b))"
            )
        ).alias("p"),
    ).select("epoch", "p.a", "p.b")
    if min_support is None:
        # exact path (the declared key): complete-mode stateful agg,
        # one state update per micro-batch. state_store="rocksdb"
        # runs the SAME aggregate on the disk-backed provider — the
        # other hand-off the state guard names, provider-invariant.
        agg = pairs.groupBy("epoch", "a", "b").agg(
            F.count(F.lit(1)).alias("n")
        )
        out = _drift_state_guard(
            _run_to_memory(agg, "complete", provider=state_store)
        )
    else:
        # opt-in support pre-filter: pairs below min_support in their
        # epoch never enter state (see _run_support_filtered for the
        # documented undercount semantics delta; batch-local aggs
        # have no state store, so state_store does not apply here)
        out = _drift_state_guard(
            _run_support_filtered(pairs, min_support)
        )
    return (
        out.groupBy("a", "b")
        .agg(
            F.sum("n").cast("long").alias("n_total"),
            F.sum(F.when(F.col("epoch") < half, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_early"),
            F.sum(F.when(F.col("epoch") >= half, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_late"),
        )
        .select(
            "a",
            "b",
            "n_total",
            "n_early",
            "n_late",
            (
                F.expr("n_late * 1000 div n_total")
                - F.expr("n_early * 1000 div n_total")
            )
            .cast("long")
            .alias("drift_milli"),
        )
        .orderBy(F.col("n_total").desc(), "a", "b")
        .limit(BPE_DRIFT_TOPK)
    )


# ---------------------------------------------------------------------------
# streaming mixture rebalance (temperature rates under drifting totals)
# ---------------------------------------------------------------------------

#: corpus epochs == micro-batches (the drift key's staging, reused)
MIX_REBALANCE_EPOCHS = DEDUP_STREAM_BATCHES


def _mix_rebalance_oracle() -> str:
    """Batch twin of the per-epoch rate recomputation (incremental ≡
    batch, the suite's streaming-oracle convention): cumulative
    per-language token totals through each epoch, then EXACTLY the
    batch mixture_temperature_sample rate algebra per epoch — same
    two-sided-corrected integer sqrt, same operation order, so every
    value is exact int64 on both engines. Epochs derive from doc_id
    with the stage splitter's lo/span arithmetic (grouping is
    deterministic in the data, independent of file→micro-batch
    mapping); the epoch × language grid comes from a constant-arg
    range() cross the observed languages, so a language joins the
    rate table the first epoch it appears and never leaves."""
    from kafka_parquet_writer_spark.functions import texthash as TH
    from kafka_parquet_writer_spark.operators.llm_prep import (
        TEMP_BUDGET_PCT,
        _isqrt_sql,
    )

    B = MIX_REBALANCE_EPOCHS
    return f"""
    WITH bounds AS (
      SELECT min(doc_id) AS lo,
             (max(doc_id) - min(doc_id) + {B}) // {B} AS span
      FROM documents
    ), toks AS (
      SELECT CAST((d.doc_id - bd.lo) // bd.span AS BIGINT) AS epoch,
             d.lang,
             CAST(len({TH.sql_words('d.text')}) AS BIGINT) AS tok
      FROM documents d CROSS JOIN bounds bd
      WHERE d.lang IS NOT NULL
    ), et AS (
      SELECT epoch, lang, CAST(sum(tok) AS BIGINT) AS tok_e
      FROM toks GROUP BY epoch, lang
    ), grid AS (
      SELECT CAST(e.range AS BIGINT) AS epoch, l.lang
      FROM range(0, {B}) AS e, (SELECT DISTINCT lang FROM et) l
    ), cum AS (
      SELECT g.epoch, g.lang,
             CAST(sum(COALESCE(et.tok_e, 0)) OVER (
               PARTITION BY g.lang ORDER BY g.epoch) AS BIGINT) AS tok_cum
      FROM grid g
      LEFT JOIN et ON et.epoch = g.epoch AND et.lang = g.lang
    ), sq AS (
      SELECT epoch, lang, tok_cum, {_isqrt_sql('tok_cum')} AS s_l
      FROM cum WHERE tok_cum > 0
    ), tots AS (
      SELECT epoch, lang, tok_cum, s_l,
             CAST(sum(s_l) OVER (PARTITION BY epoch) AS BIGINT) AS s_tot,
             CAST(sum(tok_cum) OVER (PARTITION BY epoch) AS BIGINT)
               * {TEMP_BUDGET_PCT} // 100 AS b
      FROM sq
    )
    SELECT epoch, lang, tok_cum,
           CAST(LEAST(10000, (10000 * (b * s_l // s_tot)) // tok_cum)
             AS BIGINT) AS rate_bp
    FROM tots
    """


@query("stream_mixture_rebalance", oracle=_mix_rebalance_oracle())
def stream_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MIXTURE REBALANCE — the mixture story's continuous
    half (the r10 SURVEY/VERDICT's own r11 candidate), mirroring what
    stream_bpe_vocab_drift does for the tokenizer story: documents
    arrive in doc_id-ranged micro-batches (corpus epochs), a streaming
    aggregate maintains per-(epoch, language) token totals, and the
    finisher re-derives the temperature-sampling keep rates
    (mixture_temperature_sample's p^(1/2) algebra, llm_prep.py) from
    the CUMULATIVE totals at every epoch — the per-epoch rate table a
    sampling job would broadcast, recomputed as language totals drift.
    A language surging mid-stream (a crawl source coming online) sees
    its rate fall epoch-over-epoch while low-resource languages rise —
    the signal that a fixed rate table trained on epoch-0 totals has
    gone stale.

    Incremental ≡ batch: epochs derive from doc_id (the stage
    splitter's lo/span arithmetic), so the DuckDB oracle reproduces
    the exact grouping; ALL rate arithmetic is the batch twin's exact
    int64 path (two-sided-corrected integer sqrt, fixed operation
    order), so values hash-match, not approximately-match.

    Scale shape: per micro-batch the corpus pays one map-side-combined
    shuffle into the state store, keyed (epoch, lang) — state is
    epochs × |languages| rows, TINY by construction (vs the drift
    key's vocab²-bounded state; no ceiling guard needed). The
    finisher's grid/cumsum/rate algebra runs on that state table only
    — epochs × |langs| rows through two small window functions — and
    the corpus is never shuffled a second time. At 100 TB the rate
    table per epoch is exactly what the batch sampler broadcasts; this
    operator keeps it current without re-scanning landed parquet
    (KafkaProtoParquetWriter.java:156-380 lands bytes; the reference
    would recompute totals in a nightly batch — computing them
    in-stream replaces that second pipeline).
    """
    from pyspark.sql.window import Window as W

    from kafka_parquet_writer_spark.functions import texthash as TH
    from kafka_parquet_writer_spark.operators.llm_prep import (
        TEMP_BUDGET_PCT,
        _isqrt_sql,
    )

    B = MIX_REBALANCE_EPOCHS
    src, lo, span = _documents_stream(spark, sf_dir)
    w = src.filter(F.col("lang").isNotNull()).select(
        F.expr(f"(doc_id - {lo}) div {span}").alias("epoch"),
        "lang",
        F.size(TH.words_expr("text")).cast("long").alias("tok"),
    )
    agg = w.groupBy("epoch", "lang").agg(F.sum("tok").alias("tok_e"))
    state = _run_to_memory(agg, "complete")
    # finisher: state-table-only algebra (epochs × |langs| rows). The
    # language list is a bounded metadata read — |languages| strings,
    # the same class as the ANN centroid/seed reads — collected to
    # break lineage: deriving the grid from the state table and
    # joining it back trips Spark 4.1's self-join resolver even with
    # explicit aliases (resolveSelfJoinCondition rejects the
    # memory-sink view on both sides).
    langs = sorted(
        r[0] for r in state.select("lang").distinct().collect()
    )
    grid = spark.createDataFrame(
        [(e, l) for e in range(B) for l in langs],
        "epoch long, lang string",
    )
    cum = (
        grid.join(state, ["epoch", "lang"], "left")
        .select(
            "epoch",
            "lang",
            F.coalesce(F.col("tok_e"), F.lit(0)).alias("tok_e"),
        )
        .withColumn(
            "tok_cum",
            F.sum("tok_e")
            .over(W.partitionBy("lang").orderBy("epoch"))
            .cast("long"),
        )
        .filter(F.col("tok_cum") > 0)
    )
    sq = cum.withColumn("s_l", F.expr(_isqrt_sql("tok_cum")))
    wep = W.partitionBy("epoch")
    tots = sq.select(
        "epoch",
        "lang",
        "tok_cum",
        "s_l",
        F.sum("s_l").over(wep).cast("long").alias("s_tot"),
        F.expr(
            f"sum(tok_cum) OVER (PARTITION BY epoch)"
            f" * {TEMP_BUDGET_PCT} div 100"
        ).alias("b"),
    )
    return tots.select(
        "epoch",
        "lang",
        "tok_cum",
        F.least(
            F.lit(10000),
            F.expr("(10000 * ((b * s_l) div s_tot)) div tok_cum"),
        )
        .cast("long")
        .alias("rate_bp"),
    )


# ---------------------------------------------------------------------------
# streaming query router (stream-static enrich on the retrieval surface)
# ---------------------------------------------------------------------------

#: query-workload micro-batches for the streaming router (p_partkey-
#: ranged, so every query lives entirely inside one micro-batch and
#: the per-query rollup needs nothing across batches)
QUERY_STREAM_BATCHES = 4

def _stream_router_oracle() -> str:
    from kafka_parquet_writer_spark.operators.rag_prep import (
        _query_router_oracle,
    )

    return _query_router_oracle()


@query("stream_query_router", oracle=_stream_router_oracle())
def stream_query_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query router moved to SERVING time — stream-static enrich
    on the retrieval surface: queries arrive in micro-batches (the
    p_partkey-ranged staging) and each batch is routed against the
    {RAG_INDEX_SHARDS}-row shard manifest — a STATIC DataFrame built
    once from the landed corpus and broadcast into every micro-batch.
    This is the production router's actual position: the manifest
    changes at index-build cadence, queries at request cadence.

    The head is rag_query_router's own `route_terms` (explode,
    hash-shard, broadcast left join, per-row probe/budget) — a
    stateless map, so append mode needs no watermark and no state
    store. The tail is its own `router_rollup` (two aggregates keyed
    (query_id, shard_id) then query_id) over the routed memory-sink
    rows: a rollup of a row-wise map is exact over the union of
    batches, so incremental ≡ batch and the oracle is
    rag_query_router's own SQL, value-exact.

    Scale shape: per micro-batch the cost is that batch's queries ×
    terms. The manifest is localCheckpointed once (micro-batch
    execution re-plans and re-runs an un-materialized static side
    every trigger: the corpus scan and both manifest exchanges), so
    the corpus is touched once and the per-batch static side is a
    16-row in-memory scan.
    """
    from kafka_parquet_writer_spark.operators.rag_prep import (
        _part_qt,
        rag_shard_manifest,
        route_terms,
        router_rollup,
    )

    man = rag_shard_manifest(spark, sf_dir).localCheckpoint()
    part = load_table(spark, sf_dir, "part")
    src, _, _ = _ranged_stream(
        spark, sf_dir, "part", part, "p_partkey", QUERY_STREAM_BATCHES
    )
    return router_rollup(_run_to_memory(route_terms(_part_qt(src), man), "append"))


# ---------------------------------------------------------------------------
# streaming ANN route (stream-static serving on the embedding surface)
# ---------------------------------------------------------------------------

#: query micro-batches for the streaming ANN route (vec_id-ranged over
#: the IVF query set, so every query lives inside one micro-batch)
ANN_STREAM_BATCHES = 4

def _stream_ann_oracle() -> str:
    from kafka_parquet_writer_spark.operators.similarity import _ivf_oracle

    return _ivf_oracle()


def _ann_queries_stream(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> DataFrame:
    """The IVF query set (vec_id < IVF_N_QUERIES of the embeddings
    table ``emb``) as ANN_STREAM_BATCHES vec_id-ranged micro-batches,
    so every query lives inside one micro-batch."""
    from kafka_parquet_writer_spark.operators.similarity import IVF_N_QUERIES

    queries = emb.filter(F.col("vec_id") < IVF_N_QUERIES)
    return _ranged_stream(
        spark, sf_dir, "ann_queries", queries, "vec_id", ANN_STREAM_BATCHES
    )[0]


@query("stream_ann_route", oracle=_stream_ann_oracle())
def stream_ann_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN serving moved to REQUEST time — the stream-static
    pattern on the embedding surface, completing the serving trio
    (stream_static_enrich: dimension lookup; stream_query_router:
    inverted-index routing; this: vector search): query embeddings
    arrive in vec_id-ranged micro-batches. The head is similarity_ivf's
    own assignment and scoring (`ivf_cells` on the queries, then
    `ivf_scored` against the STATIC cell-assigned corpus, broadcast) —
    a per-row map and a stateless stream-static join, so append mode
    needs no watermark and no state store. The tail is its own
    `ivf_rank` (per-query top-k) over the scored memory-sink rows,
    exact over the union of batches; the oracle is similarity_ivf's
    own SQL (incremental ≡ batch, float-portable via pround).

    Scale shape: per micro-batch the cost is that batch's queries ×
    probed-cell sizes — the production ANN serving bound. The corpus
    side is assigned cells ONCE per run and localCheckpointed (micro-
    batch execution re-plans and re-runs an un-materialized static
    side every trigger); nothing in the serving path shuffles the
    corpus. The centroids live in the kernel's closure, not the plan,
    so re-analysis per trigger stays cheap.
    """
    from kafka_parquet_writer_spark.operators.similarity import (
        IVF_CENTROIDS,
        IVF_PROBE,
        ivf_cells,
        ivf_rank,
        ivf_scored,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = ivf_cells(emb, IVF_CENTROIDS).localCheckpoint()
    src = _ann_queries_stream(spark, sf_dir, emb)
    scored = ivf_scored(ivf_cells(src, IVF_CENTROIDS, IVF_PROBE), F.broadcast(corpus))
    return ivf_rank(_run_to_memory(scored, "append"))


def _stream_ann_pq_oracle() -> str:
    from kafka_parquet_writer_spark.operators.similarity import (
        _ivfpq_oracle,
    )

    return _ivfpq_oracle()


#: r15: the PQ index moved from a per-session mkdtemp parquet dir to
#: the CELL-BUCKETED catalog table of similarity._ann_table
#: (r14 VERDICT item 2 — the docstring promised "cell-bucketed index"
#: while the shipped artifact was an unbucketed temp dir, with no
#: maintenance path and no cleanup). The build is now value-oracled
#: (ann_index_build), incrementally maintained (ann_index_delta),
#: content-fingerprint tagged, and atexit-cleaned. The reason the
#: index exists at all is unchanged and measured: with cell+codes
#: computed inline on the stream-static side, Structured Streaming
#: re-analyzed the 4x16 codebook literal trees EVERY micro-batch
#: (~2.5 s of Catalyst per batch, 14.7 s vs 4.4 s at sf0.1).


@query("stream_ann_route_pq", oracle=_stream_ann_pq_oracle())
def stream_ann_route_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-COMPRESSED ANN serving at request time — the compressed half
    of the serving trio's vector leg: similarity_ivf_pq's full
    machinery (IVF cells + 4x4-bit product quantization + asymmetric-
    distance shortlist + exact re-rank) with the query side arriving
    as vec_id-ranged micro-batches. The static side is the
    MATERIALIZED PQ index (similarity's ann_pq artifact —
    CELL-BUCKETED, value-oracled at build by ann_index_build,
    maintained by ann_index_delta): per vector only (cell, c0..c3),
    the memory-residency argument that lets the broadcast side hold
    ~100x more vectors than stream_ann_route's raw-vector corpus.

    The head is similarity_ivf_pq's own `ivf_pq_cands` (probe cells
    by `ivf_cells`, equi-join on cell): zero streaming state, and no
    centroid or codebook literal in any plan. Only (q_id, n_id,
    codes) are sunk — the memory sink collects every candidate row to
    the driver, and carrying the query vector on each one was ~half
    of every addBatch (~450 of ~930 ms per batch at sf0.1). The tail
    is its own `adc_rerank` (query vectors attached by q_id, ADC over
    the codes, the {IVFPQ_RERANK} shortlist, exact-cosine re-rank) over
    the sunk rows, exact per query over the union of batches; the
    oracle is similarity_ivf_pq's own SQL (incremental = batch).

    Scale shape: per-batch cost = that batch's queries x probed-cell
    sizes over 2-byte codes; the raw store is touched only by the
    shortlist re-rank; the corpus-sized coding work happened once, at
    index-build time."""
    from kafka_parquet_writer_spark.operators.similarity import (
        IVF_CENTROIDS,
        IVFPQ_N_QUERIES,
        IVFPQ_PROBE,
        PQ_CODEBOOKS,
        _ann_table,
        adc_rerank,
        ivf_cells,
        ivf_pq_cands,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index = spark.table(_ann_table(spark, sf_dir, "ann_pq"))
    # the staged split covers vec_id < IVF_N_QUERIES == IVFPQ_N_QUERIES
    src = _ann_queries_stream(spark, sf_dir, emb)
    probes = ivf_cells(
        src.filter(F.col("vec_id") < IVFPQ_N_QUERIES), IVF_CENTROIDS, IVFPQ_PROBE
    )
    cands = _run_to_memory(ivf_pq_cands(probes, F.broadcast(index)), "append")
    return adc_rerank(cands, emb, PQ_CODEBOOKS)


from kafka_parquet_writer_spark.operators.rag_prep import (  # noqa: E402
    _index_oracle as _rp_index_oracle,
)


@query("stream_index_delta", oracle=_rp_index_oracle())
def stream_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING index maintenance — rag_index_delta's IVM merge run
    through a REAL document stream (r14 VERDICT item 4: the batch
    delta key proves the merge algebra; the production shape is a
    stream feeding it): documents arrive as doc_id-ranged
    micro-batches (file source, availableNow) and foreachBatch folds
    each batch into the materialized index state exactly the way the
    batch key folds one CDC delta —

    per batch: (1) tokenize ONLY the batch and append its (doc_id,
    token, tf) rows to the at-rest tf state (an append of new files,
    never a rewrite — batches carry disjoint doc sets); (2) the
    batch's own token set is the affected vocabulary: re-rank
    affected lists from the cumulative tf STATE (df moved only for
    tokens the batch contains) and APPEND them as a new index
    GENERATION — delta-sized files, gen-stamped; (3) every other
    list passes through AT REST: an unaffected token's current list
    is simply its latest earlier generation, untouched on disk —
    byte-identical by the same df/tf-unchanged argument as
    rag_index_delta, applied inductively batch over batch. (r16,
    guide §5/§6: the previous shape realized the passthrough by
    anti-joining and REWRITING the full index per batch — a
    vocabulary × L read+write whose cost grows with the index, not
    the delta. The generational append writes only the affected
    lists; a token's serving list is resolved at read time as its
    max-generation rows — the LSM pattern every production index
    maintainer uses.)

    The final artifact after the last batch (all generations, each
    token served from its latest) is returned and checked against
    rag_index_build's FULL-CORPUS SQL: one green row proves
    stream-incremental ≡ one-shot batch, bit-for-bit, through every
    intermediate index generation. Zero Spark streaming state
    (the finished query's stateOperators are empty —
    ALL maintenance state lives at rest in versioned parquet, the
    restart-safe production shape; a crashed maintainer resumes from
    the checkpoint and the already-appended generations).

    Scale shape: per-batch cost = batch postings + affected-token
    postings from cumulative tf state + an AFFECTED-sized generation
    append — nothing per batch scales with the index anymore (in
    production both the tf state and the generations are
    token-bucketed like the impact_l artifact, so the per-batch semi
    join and the serve-time resolve prune to affected buckets; a
    background compactor folds old generations exactly like any LSM).
    The corpus is tokenized exactly once, one batch at a time — no
    stage ever re-reads base text, the property that lets a 100 TB
    index be maintained by a stream instead of rebuilt by a nightly
    job."""
    from pyspark.sql.window import Window as W

    from kafka_parquet_writer_spark.functions import texthash as TH
    from kafka_parquet_writer_spark.operators.rag_prep import (
        RAG_IDF_SCALE,
        RAG_IMPACT_L,
    )

    SC, L = RAG_IDF_SCALE, RAG_IMPACT_L
    stream, _, _ = _documents_stream(spark, sf_dir)
    state_base = tempfile.mkdtemp(prefix="kpws_stridx_")
    holder: dict = {"gens": [], "tf_dirs": []}

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        s = bdf.sparkSession
        delta_tf = (
            bdf.select(
                "doc_id", F.explode(TH.words_expr("text")).alias("token")
            )
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        tf_dir = os.path.join(state_base, f"tf_b{bid}")
        delta_tf.write.mode("overwrite").parquet(tf_dir)
        holder["tf_dirs"].append(tf_dir)
        # everything below reads the batch's tf rows AT REST — the
        # batch is tokenized once, on the write above. The affected
        # vocabulary (the batch's own token set) feeds exactly ONE
        # broadcast build: the semi join bounding the re-rank. No
        # anti-join, no previous-index read — unaffected lists stay
        # where they already are.
        delta_rest = s.read.parquet(tf_dir)
        affected = delta_rest.select("token").distinct()
        cum_tf = s.read.parquet(*holder["tf_dirs"])
        merged = cum_tf.join(
            F.broadcast(affected.withColumnRenamed("token", "atok")),
            F.col("token") == F.col("atok"),
            "left_semi",
        )
        wtf = merged.withColumn(
            "impact",
            F.col("tf")
            * F.expr(f"{SC} div count(1) over (partition by token)"),
        )
        rebuilt = (
            wtf.withColumn(
                "pos",
                F.row_number().over(
                    W.partitionBy("token").orderBy(
                        F.col("impact").desc(), F.col("doc_id")
                    )
                ),
            )
            .filter(F.col("pos") <= L)
            .select(
                "token",
                "doc_id",
                F.col("impact").cast("long").alias("impact"),
                F.col("pos").cast("long").alias("pos"),
            )
        )
        # generation append: affected lists only, gen-stamped so the
        # serve-time resolve can pick each token's latest rewrite
        gen_dir = os.path.join(state_base, f"idx_g{bid}")
        rebuilt.withColumn("gen", F.lit(bid)).write.mode(
            "overwrite"
        ).parquet(gen_dir)
        holder["gens"].append(gen_dir)

    _run_stream(stream, apply_batch)
    # serve-time resolve: a token's current list is its latest
    # generation (every generation a token appears in carries the
    # token's FULL re-ranked list, so max-gen rows are the whole list)
    gens = spark.read.parquet(*holder["gens"])
    return (
        gens.withColumn(
            "mg", F.max("gen").over(W.partitionBy("token"))
        )
        .filter(F.col("gen") == F.col("mg"))
        .select("token", "doc_id", "impact", "pos")
    )


def _stream_ann_idx_oracle() -> str:
    from kafka_parquet_writer_spark.operators.similarity import (
        _ann_index_oracle,
    )

    return _ann_index_oracle()


@query("stream_ann_index_delta", oracle=_stream_ann_idx_oracle())
def stream_ann_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR-index maintenance through a REAL stream — the
    stream_index_delta pattern on the embarrassingly-incremental side:
    embeddings arrive as vec_id-ranged micro-batches and are coded by
    ann_index_build's own body (similarity.pq_index — one numpy matmul
    per bank per Arrow batch) into a memory sink. That is the WHOLE
    maintainer: no merge window, no affected-set anti-join, no state
    read at all — assignment and coding depend only on the row and the
    fixed codebooks, so batch outputs are disjoint and the artifact
    after batch N is simply their concatenation (in production:
    bucket-aligned file adds to the cell-bucketed table). Contrast
    stream_index_delta, whose every batch must re-rank the
    batch-affected token lists against cumulative state because df
    couples documents.

    The final artifact is checked against ann_index_build's
    full-corpus SQL: stream-incremental ≡ one-shot batch, proving the
    coding through the stream path, with zero Spark streaming state.
    The coder keeps the banks in its closure, so the per-trigger plan
    is ~10 nodes; the earlier ~1.5k-node codebook literal trees cost
    ~3.5 s of Catalyst PER BATCH here — data-independent."""
    from kafka_parquet_writer_spark.operators.similarity import pq_index

    emb = load_table(spark, sf_dir, "embeddings")
    stream, _, _ = _ranged_stream(
        spark, sf_dir, "embeddings", emb, "vec_id", ANN_STREAM_BATCHES
    )
    return _run_to_memory(pq_index(stream), "append")
