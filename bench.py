"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Execution is forced with the noop sink (full plan runs, nothing
materializes on the driver) — the honest way to time a distributed
plan. Each query is the min over 2 interleaved full passes after a
session warm-up (3 passes when the pre-session 1-min loadavg shows
external contention); the JSON carries loadavg_start/passes so a
contaminated headline is visible in the round-over-round record.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: one per operator family, weighted toward the ones that
#: stress shuffle/join/window machinery at scale
HEADLINE = [
    "scan_project",
    "filter_pred",
    "agg_hash",
    "agg_distinct",
    "grouping_sets",
    "join_inner_hash",
    "join_multiway",
    "join_asof",
    "tpch_q3",
    "window_rank",
    "window_frame",
    "window_range_frame",
    "sort_limit_topk",
    "scalar_json",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "similarity_topk",
    "similarity_ann_lsh",
    "similarity_ivf",
    "agg_salted_skew",
    "join_salted_skew",
    "text_tokens",
    "text_quality",
    "udaf_grouped",
    "etl_rotation_binning",
    "pipeline_clean_corpus",
    "dedup_embedding",
    "dedup_embedding_ann",
    "tpch_q5",
    "tpch_q13",
    "sessionize_batch",
    "rollup_time_hierarchy",
    "text_chunk",
    "pack_sequences",
    "decontaminate_ngram",
    "mixture_sample",
    "anomaly_mad",
    "feature_binning",
    # round 4
    "dedup_url",
    "dedup_containment",
    "multimodal_phash_dedup",
    "join_interval_overlap",
    "agg_cube",
    "dq_rules",
    "sample_weighted",
    "pipeline_train_corpus",
    "text_boilerplate_strip",
    "scalar_variant",
    "join_lateral_topk",
    "table_merge_upsert",
    "similarity_topk_blas",
    "source_json_dlq",
    "window_running_distinct",
    "agg_time_weighted_avg",
    "agg_mode",
    "events_markov_transitions",
    "agg_gini",
    # round-4 late additions
    "agg_countmin",
    "similarity_ivf_pq",
    "text_pii_scrub",
    "join_bloom_prefilter",
    "channel_union_rollup",
    "rollup_share_rank",
    "table_zorder_compact",
    "agg_audience_overlap",
    "join_point_in_polygon",
    "text_line_dedup",
    # round 5
    "agg_theta_sketch",
    "rollup_margin_hierarchy",
    "events_time_bands",
    "embedding_cluster_kmeans",
    "dedup_span_exact",
    "text_quality_classifier",
    "text_bpe_merge_candidates",
    "cross_channel_intersect",
    "similarity_rerank_mmr",
    # round 6
    "dedup_embedding_ann_imi",
    "dedup_span_variable",
    "text_bpe_iterative",
    "agg_quantile_sketch",
    "dedup_semantic",
    "mixture_dsir_weights",
    "table_vacuum_retention",
    "text_ppl_buckets",
    "similarity_ann_imi",
    "join_asof_tolerance",
    "scalar_url",
    "basket_count_band",
    "text_ngram_novelty",
    "agg_decayed_value",
    # round 8
    "dedup_embedding_ann_trained",
    "mixture_dsir_bigram",
    # round 9
    "text_bpe_vocab",
    "text_bpe_encode",
    "text_bpe_batched",
    "ts_subsequence_topk",
    # round 10
    "mixture_temperature_sample",
    # round 11
    "rag_passage_windows",
    "rag_shard_manifest",
    # round 12
    "rag_query_router",
    "rag_topk_retrieval",
    # round 13
    "rag_topk_retrieval_wand",
    "rag_topk_retrieval_bm25",
    "rag_topk_retrieval_wand_bm25",
    # round 14
    "rag_topk_retrieval_wand_multi",
    "rag_topk_retrieval_bmw",
    "rag_index_build",
    "rag_topk_from_index",
    "rag_manifest_delta",
    "rag_index_delta",
    "rag_wand_from_index",
    # round 15
    "rag_bm25_from_index",
    "rag_bmw_from_index",
    "rag_bm25_index_delta",
    "rag_postings_delta",
    "rag_blocked_delta",
    "ann_index_build",
    "ann_index_delta",
    # round 16 — so the r15-receipted graph-lane wins (pagerank loop
    # pin, two-phase connected components) show up in the driver's own
    # numbers instead of only in plans/r15 receipts (r15 VERDICT item 3)
    "graph_pagerank",
    "dedup_clusters",
]

#: streaming lane: executed end-to-end through Structured Streaming
#: (file source → watermark/window/state → memory sink); timed like the
#: batch lane so round-over-round streaming regressions are visible
STREAMING_HEADLINE = [
    "stream_window_tumbling",
    "stream_window_sliding",
    "stream_stateful_count",
    "stream_stream_join",
    "stream_dedup",
    "stream_session_window",
    "stream_quality_filter",
    "stream_cdc_apply",
    "stream_topk_trending",
    "stream_session_features",
    "stream_static_enrich",
    # round 9
    "stream_subsequence_match",
    # round 10
    "stream_bpe_vocab_drift",
    # round 11
    "stream_mixture_rebalance",
    # round 12
    "stream_passage_windows",
    # round 13
    "stream_query_router",
    "stream_ann_route",
    # round 14
    "stream_ann_route_pq",
    # round 15
    "stream_index_delta",
    "stream_ann_index_delta",
]


#: 1-min loadavg above which the box is considered contended BEFORE our
#: own JVM starts (32 cores; anything >4 means a concurrent Spark JVM or
#: similar is running — r6's driver bench ran under exactly that and its
#: headline drifted ~7% vs the same-tree idle rerun)
LOAD_WARN = 4.0


def _sweep_stale_tmp() -> None:
    """Remove kpws_* checkpoint/staging litter from previous runs.

    Oracle sweeps and streaming tests mkdtemp under /tmp and the dirs
    accumulate across rounds; ~6400 of them made the r10 streaming
    lane 1.75× slower (every streaming query pays mkdtemp + file-source
    listing in an ever-larger /tmp). This was tribal knowledge
    (memory + SURVEY note); now it's the first thing a timed run does
    (r10 VERDICT item 8). Only dirs OLDER than six hours go — a dir's
    mtime is its CREATION time (later writes land in nested part/
    checkpoint subdirs), so a 1-hour cutoff raced any concurrent
    bench_scale lane past its first hour (r11 review); the stale
    population this sweep exists for is rounds old, not hours."""
    import shutil
    import tempfile

    root = tempfile.gettempdir()
    cutoff = time.time() - 6 * 3600
    n = 0
    try:
        names = os.listdir(root)
    except OSError:
        return
    for name in names:
        if not name.startswith("kpws_"):
            continue
        path = os.path.join(root, name)
        try:
            if os.path.isdir(path) and os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
                n += 1
        except OSError:
            continue
    if n:
        print(f"swept {n} stale kpws_* tmp dirs", file=sys.stderr)


def main() -> None:
    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.registry import QUERIES, load_all_operators

    _sweep_stale_tmp()

    # Sample BEFORE the session starts: once our own executors run, the
    # loadavg is dominated by our own work and says nothing about
    # external contention. Under contention, add a third interleaved
    # pass — min-of-N needs only ONE clean window per query, so an
    # extra pass is the cheapest way to keep the headline robust.
    load_at_start = os.getloadavg()[0]
    n_passes = 2
    if load_at_start > LOAD_WARN:
        n_passes = 3
        print(
            f"WARNING: 1-min loadavg {load_at_start:.1f} > {LOAD_WARN} "
            "before session start — box is contended; taking min over "
            f"{n_passes} interleaved passes instead of 2",
            file=sys.stderr,
        )

    load_all_operators()
    spark = get_spark("bench")

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm up JVM/codegen/file-listing paths AND the Python worker pool
    # (first pandas-UDF query otherwise pays worker fork cost; the
    # grouped warm-up forks one worker per core, which scalar UDFs on a
    # few scan partitions would not)
    run(QUERIES["agg_hash"](spark, SF_DIR))
    run(QUERIES["udf_scalar"](spark, SF_DIR))
    import pandas as _pd
    from pyspark.sql import functions as F

    run(
        spark.range(10_000)
        .withColumn("k", F.col("id") % 64)
        .repartition(64, "k")
        .groupBy("k")
        .applyInPandas(
            lambda pdf: _pd.DataFrame({"k": [pdf["k"].iloc[0]]}), "k long"
        )
    )

    # Each query is timed as the MIN over two full passes of the list
    # (not two back-to-back runs): measured noise on shared machines
    # arrives in multi-second windows that would hit both back-to-back
    # samples of one query but not the same query in both passes. Any
    # cache a query builds internally is dropped so queries don't
    # interfere.
    timings: dict[str, float] = {}
    #: which pass produced each key's winning (min) time — lets a
    #: contended headline be diagnosed per-key: keys whose win came
    #: from a late pass were slowed earlier, keys winning pass 1
    #: everywhere suggest later contention (r9 VERDICT item 7)
    win_pass: dict[str, int] = {}
    failed: list[str] = []
    for _pass in range(n_passes):
        for name in HEADLINE:
            if name in failed:
                continue
            try:
                spark.catalog.clearCache()
                t0 = time.time()
                run(QUERIES[name](spark, SF_DIR))
                dt = time.time() - t0
            except Exception as e:  # noqa: BLE001 — one broken query must not kill the bench
                print(f"{name}: FAILED ({e})", file=sys.stderr)
                failed.append(name)
                timings.pop(name, None)
                continue
            finally:
                spark.catalog.clearCache()
            if name not in timings or dt < timings[name]:
                win_pass[name] = _pass + 1
            timings[name] = round(min(timings.get(name, dt), dt), 3)
            print(f"{name}: {dt:.3f}s (pass {_pass + 1})", file=sys.stderr)

    # streaming lane: each query drains the staged events stream through
    # its windowed/stateful plan into a memory sink; min over two passes
    # (fresh checkpoint each — the memory sink name is counter-suffixed)
    streaming: dict[str, float] = {}
    for _pass in range(n_passes):
        for name in STREAMING_HEADLINE:
            if name in failed:
                continue
            try:
                t0 = time.time()
                run(QUERIES[name](spark, SF_DIR))
                dt = time.time() - t0
            except Exception as e:  # noqa: BLE001
                print(f"{name}: FAILED ({e})", file=sys.stderr)
                failed.append(name)
                streaming.pop(name, None)
                continue
            if name not in streaming or dt < streaming[name]:
                win_pass[name] = _pass + 1
            streaming[name] = round(min(streaming.get(name, dt), dt), 3)
            print(f"{name}: {dt:.3f}s (pass {_pass + 1})", file=sys.stderr)

    # streaming-ingest throughput: the reference's ONE quantitative
    # design point is 300k records/s per writer instance (BASELINE.md);
    # time the full pipeline (file stream source → decode-free path →
    # exactly-once parquet sink with date layout) over the events table
    # and report it as a timing entry + rows/s on stderr.
    import tempfile

    from kafka_parquet_writer_spark.catalog import (
        normalize_nanos,
        table_path,
        table_schema,
    )
    from kafka_parquet_writer_spark.operators.streaming_queries import _staged_dir
    from kafka_parquet_writer_spark.streaming.ingest import (
        IngestConfig,
        ingest_once,
    )

    ev_path = table_path(SF_DIR, "events")
    base = tempfile.mkdtemp(prefix="kpws_bench_ingest_")
    # stage the fixture K× under distinct names: K input splits →
    # parallel ingest tasks, and enough rows that the fixed micro-batch
    # startup cost stops dominating the measured rate
    src = os.path.join(base, "src")
    os.makedirs(src)
    # 20 copies ≈ 2M rows: enough that the fixed micro-batch startup
    # (~1 s) stops dominating — the reference's 300k rows/s design point
    # is a steady-state number, so the comparison should be too
    K = 20
    for i in range(K):
        os.symlink(ev_path, os.path.join(src, f"events_{i}.parquet"))
    n_rows = spark.read.parquet(ev_path).count() * K
    # best of two runs, matching the query section's methodology: the
    # first streaming write pays one-time listing/codegen warm-up that
    # a steady-state deployment (900 s triggers) never sees — the
    # reference's 300k rows/s design point is a steady-state number
    def bench_ingest(tag: str, **cfg_kw) -> None:
        best = float("inf")
        try:
            for attempt in range(n_passes):
                cfg = IngestConfig(
                    target_dir=os.path.join(base, f"out_{tag}_{attempt}"),
                    checkpoint_dir=os.path.join(base, f"ckpt_{tag}_{attempt}"),
                    source_format="file",
                    source_path=src,
                    source_schema=table_schema(spark, ev_path),
                    decoder=normalize_nanos,  # total: long-nanos or NTZ ts
                    trigger_seconds=None,
                    **cfg_kw,
                )
                t0 = time.time()
                ingest_once(spark, cfg)
                dt = time.time() - t0
                if dt < best:
                    best, win_pass[tag] = dt, attempt + 1
        except Exception as e:  # noqa: BLE001
            print(f"{tag}: FAILED ({e})", file=sys.stderr)
            failed.append(tag)
            return
        timings[tag] = round(best, 3)
        print(
            f"{tag}: {best:.3f}s ({n_rows / best:,.0f} rows/s; "
            "reference design point 300,000 rows/s)",
            file=sys.stderr,
        )

    bench_ingest(
        "ingest_events_stream",
        directory_datetime_pattern="yyyy/MM/dd",
        partition_time_column="ts",
        files_per_dir=2,
    )
    # reference-comparable configuration: unpartitioned rolling files
    # (the reference writes one flat file per worker thread)
    bench_ingest("ingest_events_stream_flat", directory_datetime_pattern=None)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "streaming": streaming,
        "ingest_rows_per_sec": {
            k: round(n_rows / timings[k]) for k in
            ("ingest_events_stream", "ingest_events_stream_flat")
            if k in timings
        },
        "sf": sf_val,
        "failed": failed,
        # environmental context: external load before the session
        # started and at the end of the run (the end sample includes
        # our own just-finished work; the start sample is the one
        # that flags a contaminated headline)
        "loadavg_start": round(load_at_start, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        "passes": n_passes,
        # per-key pass provenance (diagnosability only, no behavior
        # change): a cluster of late-pass wins localizes contention to
        # the earlier passes' wall-clock window
        "win_pass": win_pass,
    }
    # The driver records only the last 2000 chars of output; the full
    # per-query line outgrew that in round 4 (70+ keys) and the tail
    # cut the line's head, leaving nothing parseable. Print the full
    # detail line FIRST, then a guaranteed-last COMPACT line (same
    # envelope, queries limited to the slowest TOP_N at 2 decimals —
    # the keys any cross-round perf comparison actually reads) that
    # always fits the tail window whole.
    print(json.dumps(result))
    sys.stdout.flush()
    # Also persist the full detail to a FILE: the driver's 2000-char
    # tail cannot hold the per-query map (r4's detail was only
    # regex-recoverable), so round-over-round per-query diffs read
    # BENCH_DETAIL.json instead — committed as BENCH_DETAIL_r{N}.json
    # each round.
    #
    # Dirty-overwrite guard (r13+r14 VERDICT hygiene: two rounds
    # running, the driver's contended run clobbered the committed
    # idle-bracketed detail): if the file on disk came from a
    # MEANINGFULLY cleaner box (loadavg_start lower by >1.0), divert
    # to BENCH_DETAIL.dirty.json so the idle receipt survives. The
    # comparison is against the COMMITTED file's loadavg
    # unconditionally (r15 opt leftover: the old `> LOAD_WARN` arm let
    # a 2-4 loadavg run clobber a 0.0-loadavg receipt — restored from
    # git twice that round). SPARK_GRAFT_BENCH_OVERWRITE=1 forces the
    # overwrite.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    if (
        os.path.exists(detail_path)
        and os.environ.get("SPARK_GRAFT_BENCH_OVERWRITE") != "1"
    ):
        try:
            with open(detail_path) as f:
                prev_load = json.load(f).get("loadavg_start")
        except (ValueError, OSError):
            prev_load = None
        if (
            prev_load is not None
            and result["loadavg_start"] > prev_load + 1.0
        ):
            print(
                f"NOTE: existing BENCH_DETAIL.json is from a cleaner box "
                f"(loadavg {prev_load} vs {result['loadavg_start']}); "
                f"writing BENCH_DETAIL.dirty.json instead "
                f"(SPARK_GRAFT_BENCH_OVERWRITE=1 to force)",
                file=sys.stderr,
            )
            detail_path = detail_path.replace(".json", ".dirty.json")
    with open(detail_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    top_n = 40
    slowest = dict(
        sorted(
            {**timings, **streaming}.items(),
            key=lambda kv: -kv[1],
        )[:top_n]
    )
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in slowest.items()},
        "n_queries_total": len(timings) + len(streaming),
        "queries_full": "previous line",
        "ingest_rows_per_sec": result["ingest_rows_per_sec"],
        "sf": sf_val,
        "failed": failed,
        "loadavg_start": result["loadavg_start"],
        "passes": n_passes,
    }
    print(json.dumps(compact, separators=(",", ":")))
    sys.stdout.flush()
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
