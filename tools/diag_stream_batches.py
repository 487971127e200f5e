"""Per-batch duration breakdown for streaming keys.

Wraps the streaming runner (_run_stream, which runs every memory-sink
and foreachBatch stream) to capture the finished query's
recentProgress, then invokes each named key once
(warm session) and prints per-batch durationMs components
(triggerExecution, queryPlanning, addBatch, walCommit,
commitOffsets, getBatch) plus batch count.

Usage: python tools/diag_stream_batches.py key [key ...]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    keys = sys.argv[1:]
    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.registry import QUERIES, load_all_operators
    import kafka_parquet_writer_spark.operators.streaming_queries as SQ

    load_all_operators()
    spark = get_spark("diag_stream_batches")

    captured: list = []

    orig = SQ._run_stream

    def runner(stream_df, sink, **kw):
        q = orig(stream_df, sink, **kw)
        captured.append([json.loads(p.json) for p in q.recentProgress])
        return q

    SQ._run_stream = runner

    import time

    for k in keys:
        captured.clear()
        t0 = time.monotonic()
        df = QUERIES[k](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        print(f"\n=== {k}  wall={wall:.2f}s  streams={len(captured)}")
        for si, progs in enumerate(captured):
            rows = []
            for p in progs:
                d = p.get("durationMs", {})
                rows.append(
                    (
                        p.get("batchId"),
                        d.get("triggerExecution"),
                        d.get("queryPlanning"),
                        d.get("addBatch"),
                        d.get("walCommit"),
                        d.get("commitOffsets"),
                        d.get("getBatch"),
                        p.get("numInputRows"),
                    )
                )
            print(
                f"  stream {si}: {len(progs)} batches "
                "(batchId, trigger, plan, addBatch, wal, commit, getBatch, rows)"
            )
            for r in rows:
                print(f"    {r}")


if __name__ == "__main__":
    main()
