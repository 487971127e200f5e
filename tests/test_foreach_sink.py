"""Streaming keyed-upsert sink: micro-batches merge by key into a
version-swapped parquet table; the published snapshot is always
complete and reflects latest-per-key."""

import os

from pyspark.sql import functions as F

from kafka_parquet_writer_spark.streaming.foreach_sink import (
    current_version_dir,
    list_versions,
    prune_versions,
    read_current,
    read_version,
    start_upsert_stream,
)


def _write_batch(spark, src_dir, rows, name):
    spark.createDataFrame(rows, "k int, v string, ts int").coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)


def test_streaming_upsert_latest_per_key(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    table = os.path.join(base, "table")
    ckpt = os.path.join(base, "ckpt")

    _write_batch(spark, src, [(1, "a", 1), (2, "b", 1), (1, "a2", 2)], "b0")

    stream = spark.readStream.schema("k int, v string, ts int").parquet(src)
    q = start_upsert_stream(
        stream, table, keys=["k"], checkpoint_dir=ckpt,
        order_col="ts", available_now=True,
    )
    q.awaitTermination()

    got = sorted(tuple(r) for r in read_current(spark, table).collect())
    assert got == [(1, "a2", 2), (2, "b", 1)]

    # second wave: update k=2, add k=3 — new stream over the same ckpt
    _write_batch(spark, src, [(2, "B", 5), (3, "c", 1)], "b1")
    stream2 = spark.readStream.schema("k int, v string, ts int").parquet(src)
    q2 = start_upsert_stream(
        stream2, table, keys=["k"], checkpoint_dir=ckpt,
        order_col="ts", available_now=True,
    )
    q2.awaitTermination()

    got = sorted(tuple(r) for r in read_current(spark, table).collect())
    assert got == [(1, "a2", 2), (2, "B", 5), (3, "c", 1)]

    # the published pointer is a real directory with a parquet snapshot
    cur = current_version_dir(table)
    assert cur is not None and os.path.isdir(cur)


def test_time_travel_and_retention(spark, tmp_path):
    """Versioned-table surface: each wave publishes a snapshot;
    read_version time-travels, prune_versions enforces retention but
    never deletes the published current pointer's target."""
    base = str(tmp_path)
    src = os.path.join(base, "src")
    table = os.path.join(base, "table")

    waves = [
        [(1, "a", 1), (2, "b", 1)],
        [(2, "B", 5)],
        [(3, "c", 1)],
    ]
    for i, rows in enumerate(waves):
        _write_batch(spark, src, rows, f"b{i}")
        stream = spark.readStream.schema("k int, v string, ts int").parquet(src)
        q = start_upsert_stream(
            stream, table, keys=["k"],
            checkpoint_dir=os.path.join(base, "ckpt"),
            order_col="ts", available_now=True,
        )
        q.awaitTermination()

    versions = list_versions(table)
    assert len(versions) == 3
    v0 = sorted(tuple(r) for r in read_version(spark, table, versions[0]).collect())
    assert v0 == [(1, "a", 1), (2, "b", 1)]
    v_last = sorted(tuple(r) for r in read_version(spark, table, versions[-1]).collect())
    assert v_last == sorted(tuple(r) for r in read_current(spark, table).collect())

    pruned = prune_versions(table, keep_last=1)
    assert pruned == versions[:-1]
    assert list_versions(table) == [versions[-1]]
    # current pointer still resolves after pruning
    assert read_current(spark, table).count() == 3
    try:
        read_version(spark, table, versions[0])
        raise AssertionError("pruned version should not be readable")
    except KeyError:
        pass


def test_replay_after_published_swap_is_noop(spark, tmp_path):
    """Crash window regression: if the stream dies AFTER the symlink
    swap but BEFORE the checkpoint commit, the batch replays with
    `current` already pointing at v{batch_id}. The replay must no-op
    (not read-and-overwrite the same directory, which wedges the
    stream)."""
    base = str(tmp_path)
    src = os.path.join(base, "src")
    table = os.path.join(base, "table")
    ckpt = os.path.join(base, "ckpt")

    _write_batch(spark, src, [(1, "a", 1), (2, "b", 1)], "b0")
    stream = spark.readStream.schema("k int, v string, ts int").parquet(src)
    q = start_upsert_stream(
        stream, table, keys=["k"], checkpoint_dir=ckpt,
        order_col="ts", available_now=True,
    )
    q.awaitTermination()
    before = sorted(tuple(r) for r in read_current(spark, table).collect())

    # simulate the torn state: published pointer at batch 0, but the
    # checkpoint never committed — replay batch 0 over a fresh ckpt
    stream2 = spark.readStream.schema("k int, v string, ts int").parquet(src)
    q2 = start_upsert_stream(
        stream2, table, keys=["k"], checkpoint_dir=os.path.join(base, "ckpt2"),
        order_col="ts", available_now=True,
    )
    q2.awaitTermination()  # must not raise "overwrite a path being read"

    after = sorted(tuple(r) for r in read_current(spark, table).collect())
    assert after == before
