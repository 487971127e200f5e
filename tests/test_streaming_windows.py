"""Streaming window/state operators (SURVEY.md §2C) verified against
batch equivalents computed by Spark itself."""

import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.operators.streaming_queries import (
    ANN_STREAM_BATCHES,
    DEDUP_STREAM_BATCHES,
    QUERY_STREAM_BATCHES,
    _events_stream,
    _run_to_memory,
)
from kafka_parquet_writer_spark.streaming.windows import (
    dedup_within_watermark,
    sessionize,
    sliding_agg,
    tumbling_agg,
)


def test_tumbling_matches_batch(spark, sf_dir):
    stream = _events_stream(spark, sf_dir)
    out = _run_to_memory(
        tumbling_agg(stream, "ts", "5 minutes", ["event_type"], [F.count("*").alias("n")]),
        "complete",
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    assert out.count() == batch.count()
    assert out.agg(F.sum("n")).first()[0] == batch.agg(F.sum("n")).first()[0]


def test_sliding_window_multiplicity(spark, sf_dir):
    """Each event falls in duration/slide windows: total count across
    sliding windows = rows × (duration/slide)."""
    stream = _events_stream(spark, sf_dir)
    out = _run_to_memory(
        sliding_agg(stream, "ts", "10 minutes", "5 minutes", [], [F.count("*").alias("n")]),
        "complete",
    )
    rows = load_table(spark, sf_dir, "events").count()
    assert out.agg(F.sum("n")).first()[0] == rows * 2


def test_sessionize_matches_lag_formulation(spark, sf_dir):
    from pyspark.sql.window import Window as W

    stream = _events_stream(spark, sf_dir)
    out = _run_to_memory(
        sessionize(stream, "ts", "30 minutes", ["user_id"], [F.count("*").alias("n")]),
        "complete",
    )
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    sessions = (
        ev.withColumn(
            "new_sess",
            F.when(gap_us.isNull() | (gap_us >= 1800 * 1_000_000), 1).otherwise(0),
        )
        .withColumn("sid", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.count("*").alias("n"))
    )
    assert out.count() == sessions.count()
    assert sorted(r.n for r in out.collect()) == sorted(
        r.n for r in sessions.collect()
    )


def test_streaming_dedup_within_watermark(spark, sf_dir):
    stream = _events_stream(spark, sf_dir)
    out = _run_to_memory(
        dedup_within_watermark(stream, ["user_id", "event_type"], "ts", "1 hour"),
        "append",
    )
    distinct = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # within one availableNow batch all duplicates are in horizon
    assert out.select("user_id", "event_type").distinct().count() == distinct
    assert out.count() == distinct


def test_tws_totals_gated(spark):
    """transformWithStateInPandas operator — runs only where the
    google.protobuf Python package exists (the TWS state protocol
    imports StateMessage_pb2 in the driver worker). Absent here; the
    operator is exercised end-to-end wherever protobuf is installed."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not installed — TWS driver worker "
                    "cannot start (same environment gap as spark-protobuf)")

    from kafka_parquet_writer_spark.operators.streaming_queries import (
        stream_tws_totals,
    )
    from tests.conftest import SF_SMOKE

    out = stream_tws_totals(spark, SF_SMOKE)
    rows = {r["user_id"]: r for r in out.collect()}
    from kafka_parquet_writer_spark.catalog import load_table
    from pyspark.sql import functions as F

    exp = {
        r["user_id"]: r
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("event_type").alias("n_types"))
        .collect()
    }
    assert set(rows) == set(exp)
    for k in rows:
        assert rows[k]["n"] == exp[k]["n"]
        assert rows[k]["n_types"] == exp[k]["n_types"]


def test_stream_dedup_minhash_kept_set_properties(spark):
    """The incremental stream keeps exactly the docs with no smaller
    same-bucket partner; spot-check invariants beyond the oracle gate:
    monotone doc_id coverage and first-batch doc 0 always kept."""
    import __spark_entry__ as E

    kept = sorted(
        r.doc_id
        for r in E.queries()["stream_dedup_minhash"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert kept, "kept set must be non-empty"
    assert kept[0] == 0  # smallest doc can never collide with a smaller one
    assert len(kept) == len(set(kept))  # no doc emitted twice (idempotence)


def test_staged_dir_stages_directory_tables(spark, tmp_path):
    """A multi-file table arrives as a DIRECTORY; the file-stream
    source does not recurse, so _staged_dir must stage the part files
    themselves — symlinking the directory streamed ZERO rows (caught
    by bench_scale's streaming lane)."""
    import glob
    import os

    from kafka_parquet_writer_spark.operators.streaming_queries import (
        _staged_dir,
    )

    d = str(tmp_path / "multi.parquet")
    spark.range(100).repartition(4).write.parquet(d)
    staged = _staged_dir(d)
    parts = glob.glob(os.path.join(staged, "*.parquet"))
    assert len(parts) == 4
    assert all(os.path.isfile(p) for p in parts)
    n = (
        spark.readStream.schema("id long")
        .parquet(staged)
        .groupBy()
        .count()
    )
    from kafka_parquet_writer_spark.operators.streaming_queries import (
        _run_to_memory,
    )

    out = _run_to_memory(n, "complete")
    assert out.collect()[0][0] == 100


def _ckpt_dirs():
    import os

    tmp = tempfile.gettempdir()
    return {n for n in os.listdir(tmp) if n.startswith("kpws_") and "ckpt" in n}


@pytest.fixture
def private_tmp(tmp_path, monkeypatch):
    """Point this process's mkdtemp at a private dir, so checkpoint
    dirs of other processes sharing the system temp dir are not
    counted."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))


@pytest.mark.parametrize(
    "key",
    [
        "stream_dedup",  # memory sink
        "stream_cdc_apply",  # foreachBatch sink
        "stream_late_data_drop",  # caller-owned checkpoint across two runs
    ],
)
def test_memory_sink_runs_leave_no_checkpoint_dir(spark, sf_dir, key, private_tmp):
    """Every stream run removes its checkpoint once the availableNow
    query has terminated, and a caller that passes its own checkpoint
    removes it too; the result stays readable."""
    from kafka_parquet_writer_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    before = _ckpt_dirs()
    counts = [QUERIES[key](spark, sf_dir).count() for _ in range(2)]
    assert _ckpt_dirs() - before == set()
    assert counts[0] == counts[1] > 0
    if key == "stream_dedup":
        expected = (
            load_table(spark, sf_dir, "events")
            .select("user_id", "event_type")
            .distinct()
            .count()
        )
        assert counts[0] == expected


#: (stream twin, its batch key, staged micro-batches, whether its head
#: joins a broadcast static side)
STREAM_TWINS = [
    ("stream_decontaminate", "decontaminate_ngram", DEDUP_STREAM_BATCHES, True),
    ("stream_query_router", "rag_query_router", QUERY_STREAM_BATCHES, True),
    ("stream_ann_route", "similarity_ivf", ANN_STREAM_BATCHES, True),
    ("stream_ann_route_pq", "similarity_ivf_pq", ANN_STREAM_BATCHES, True),
    ("stream_ann_index_delta", "ann_index_build", ANN_STREAM_BATCHES, False),
]


@pytest.mark.parametrize(
    "twin,key,batches,joins", STREAM_TWINS, ids=[t[0] for t in STREAM_TWINS]
)
def test_stream_twin_equals_batch_zero_state(
    spark, sf_dir, twin, key, batches, joins, private_tmp
):
    """A stream twin runs its batch key's head per micro-batch into a
    memory sink and the same tail batch-side, so it reproduces the
    batch key row for row, twice in a row. The finished query consumed
    every staged micro-batch with zero streaming state (empty
    stateOperators, no StateStore node in the executed micro-batch
    plan), met its static side, if any, through a broadcast hash join
    and never a sort-merge join, and the second run leaves no new
    kpws_* entry in the temp dir."""
    import os

    from kafka_parquet_writer_spark.operators import streaming_queries as SQ
    from kafka_parquet_writer_spark.registry import QUERIES, load_all_operators

    def kpws():
        return {n for n in os.listdir(tempfile.gettempdir()) if n.startswith("kpws_")}

    load_all_operators()
    batch = sorted(tuple(r) for r in QUERIES[key](spark, sf_dir).collect())
    first = sorted(tuple(r) for r in QUERIES[twin](spark, sf_dir).collect())
    staged = kpws()
    second = sorted(tuple(r) for r in QUERIES[twin](spark, sf_dir).collect())
    assert kpws() - staged == set()
    assert first == second == batch and len(batch) > 0
    q = SQ.last_query
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == batches
    receipt = SQ._plan_receipt(q)
    assert receipt["state_operators"] == []
    assert "StateStore" not in receipt["plan"]
    assert "SortMergeJoin" not in receipt["plan"]
    assert ("BroadcastHashJoin" in receipt["plan"]) == joins


def test_run_stream_restores_confs_and_checkpoint_when_a_batch_raises(
    spark, tmp_path, private_tmp
):
    """A foreachBatch function that raises fails the query; the runner
    still restores the shuffle-partition conf, leaves the state-store
    provider unset when it was unset before, and removes the
    checkpoint it created."""
    from kafka_parquet_writer_spark.operators.streaming_queries import _run_stream

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)

    def boom(df, bid):
        raise RuntimeError("batch failed")

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    assert spark.conf.get(provider_conf, None) is None
    before = _ckpt_dirs()
    try:
        with pytest.raises(Exception, match="batch failed"):
            _run_stream(stream, boom, provider="rocksdb")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get(provider_conf, None) is None
        assert _ckpt_dirs() - before == set()
        with pytest.raises(ValueError, match="unknown state_store"):
            _run_stream(stream, boom, provider="bogus")
        assert _ckpt_dirs() - before == set()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_ranged_stream_stages_once_in_range_order(spark, tmp_path):
    """The split is staged once: a second call for the same stage runs
    no Spark job. The staged files hold consecutive ranges of the
    column, with mtimes increasing in range order."""
    import glob
    import os
    import shutil

    from kafka_parquet_writer_spark.operators import streaming_queries as SQ

    sf = str(tmp_path)
    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    sc = spark.sparkContext
    try:
        _, lo, span = SQ._ranged_stream(spark, sf, "docs", df, "doc_id", 4)
        assert (lo, span) == (0, 25)
        sc.setJobGroup("ranged_warm", "warm ranged stream")
        try:
            stream, lo2, span2 = SQ._ranged_stream(
                spark, sf, "docs", df, "doc_id", 4
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("ranged_warm") == []
        assert (lo2, span2) == (lo, span) and stream.isStreaming
        stage = SQ._ranged_stages[("docs", sf, 4)][0]
        files = sorted(glob.glob(os.path.join(stage, "*.parquet")))
        assert len(files) == 4
        mtimes = [os.stat(f).st_mtime_ns for f in files]
        assert mtimes == sorted(set(mtimes))
        for i, f in enumerate(files):
            lo_i, hi_i = spark.read.parquet(f).agg(
                F.min("doc_id"), F.max("doc_id")
            ).first()
            assert (lo_i, hi_i) == (i * span, (i + 1) * span - 1)
    finally:
        staged = SQ._ranged_stages.pop(("docs", sf, 4), None)
        if staged:
            shutil.rmtree(staged[0], ignore_errors=True)


def test_stage_dirs_are_removed_at_process_exit(sf_dir, tmp_path):
    """``_staged_dir`` and ``_ranged_stream`` keep their stage dirs,
    and ``stream_late_data_drop`` its output dir, for the whole process
    and remove them when it exits: a child process with a private
    TMPDIR runs ``stream_dedup``, stages a ranged split and runs
    ``stream_late_data_drop``, and leaves no ``kpws_*src_`` or
    ``kpws_late_out_`` dir behind."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {repo!r})
        from kafka_parquet_writer_spark import QUERIES, get_spark
        from kafka_parquet_writer_spark.operators import streaming_queries as SQ

        spark = get_spark("stage-leak", cpus=1, shuffle_partitions=1)
        assert QUERIES["stream_dedup"](spark, sys.argv[1]).count() > 0
        SQ._ranged_stream(spark, sys.argv[1], "probe", spark.range(10), "id", 2)
        assert QUERIES["stream_late_data_drop"](spark, sys.argv[1]).count() > 0
        staged = [n for n in os.listdir(sys.argv[2]) if n.startswith("kpws_") and "src_" in n]
        late = [n for n in os.listdir(sys.argv[2]) if n.startswith("kpws_late_out_")]
        spark.stop()
        print("STAGED", len(staged), "LATE", len(late))
        """
    )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script, sf_dir, str(tmp)],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert "STAGED 2 LATE 1" in out.stdout, out.stderr[-3000:]
    left = [
        n
        for n in os.listdir(tmp)
        if n.startswith("kpws_") and ("src_" in n or "late_out_" in n)
    ]
    assert left == []
