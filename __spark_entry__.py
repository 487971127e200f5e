"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship query (TPC-H Q1 shape) on sf0.001.
queries()    — every declared operator from SURVEY.md §2B/§2C, keyed by
               name; implemented in kafka_parquet_writer_spark.operators.*.
oracle_sql() — matching DuckDB ANSI SQL; keys without an oracle get the
               driver's weaker rows-only check (approximate operators).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_parquet_writer_spark.registry import QUERIES, ORACLES, load_all_operators

load_all_operators()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["agg_hash"](spark, "/root/testdata/sf0.001")


# The driver's correctness gate checks only the FIRST 50 registered keys
# (CORRECTNESS_r01.json covers registration indices 0-49 exactly). To get
# every key a green row across rounds, queries() returns an explicitly
# ordered dict. Ordering is EVIDENCE-BASED, computed from every
# CORRECTNESS_r*.json in the repo root, so the window rotates
# automatically each round with no manual edits:
#   tier 0 — keys whose most recent driver check FAILED (verify fixes),
#   tier 1 — keys never driver-checked (new evidence),
#   tier 2 — keys green at least once, stalest green first.
# Within tiers 0/1, _PRIORITY (below) breaks ties, then registration
# order. _PRIORITY is a soft hint only; it need not be maintained.
_PRIORITY = [
    # never driver-checked in r1 (registered past the 50-key window)
    "text_token_count",
    "multimodal_binary",
    "multimodal_meta",
    "udf_scalar",
    "udaf_grouped",
    "udtf_tokens",
    "etl_partition_layout",
    "etl_rotation_binning",
    "stream_window_tumbling",
    "stream_window_sliding",
    "stream_stateful_count",
    "stream_stream_join",
    "stream_dedup",
    "stream_session_window",
    "agg_salted_skew",
    "join_salted_skew",
    "pipeline_clean_corpus",
    # failed in r1 on the nanos-read bug, fixed this round
    "agg_approx_distinct",
    "join_asof",
    "window_frame",
    "window_lag_lead",
    "window_range_frame",
    "agg_percentiles",
    "scalar_json",
    "scalar_map",
    "dedup_exact",
    # declared form rewritten this round (grid equi-join, no broadcast NLJ)
    "dedup_embedding",
    # new this round
    "dedup_embedding_ann",
    "tpch_q2",
    "tpch_q4",
    "tpch_q5",
    "tpch_q10",
    "tpch_q12",
    "tpch_q13",
    "tpch_q16",
    "tpch_q19",
    "tpch_q1",
    "tpch_q7",
    "tpch_q15",
    "tpch_q17",
    "tpch_q21",
    "tpch_q22",
    "multimodal_decode",
    "multimodal_frame_sample",
    # new this session: time-series + incremental-maintenance surface
    "sessionize_batch",
    "rollup_time_hierarchy",
    "join_range_band",
    "agg_incremental",
    "sample_stratified",
    "unpivot_long",
]


def _driver_evidence() -> dict[str, tuple[int, bool]]:
    """Per query key: (latest round it was driver-checked, was it green).

    Reads every CORRECTNESS_r*.json next to this file. A key is green if
    rows/schema/hash all matched; a rows-only (no-oracle) key counts as
    green when rows_match is true and err is null.
    """
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    evidence: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for key, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            green = (
                rec.get("err") is None
                and rec.get("rows_match") is True
                and rec.get("schema_match") is not False
                and rec.get("hash_match") is not False
            )
            prev = evidence.get(key)
            if prev is None or rnd >= prev[0]:
                evidence[key] = (rnd, green)
    return evidence


# Keys whose latest driver green is KNOWN-VACUOUS or otherwise needs a
# re-check despite being recent: treated as never-checked (tier 1) so
# the next driver run re-proves them. r5: dedup_url's r4 green matched
# on 0 rows == 0 rows (fixture bug, fixed in web_curation.py) — it
# needs a green row with rows > 0. The force expires by itself: once
# evidence from a round AFTER the flagged one exists, the key rejoins
# normal rotation (no manual cleanup next round).
#
# r7: the round-6 verdict's git log -L audit found keys whose code
# changed AFTER their latest driver green and which tier-2 staleness
# ordering cannot reach (their evidence round sorts behind ~97 older
# rows). Force them so every key is proven on the code that ships:
#   dedup_containment        ev r4, rewritten r6 (commit 26a41bf)
#   text_line_dedup          ev r4, r5 empty-doc guard
#   stream_session_features  ev r5, r6 same-second ordering fix
#   embedding_cluster_kmeans ev r5, r6 Lloyd-input cache change
#   dedup_semantic           ev r6, r7 pround boundary compare (ADVICE)
#   text_bpe_iterative       ev r6, r7 empty-pair guard + unpersist
#   dedup_embedding_ann      ev r6, r7 trained-bank hook (default-off)
# (pack_sequences — ev r3, r4 change — rotates in naturally.)
#
# r8: the round-7 verdict's helper-closure audit found two keys whose
# decorated bodies are unchanged but which execute helpers rewritten in
# r7 (`_make_imi_assigner` dedup.py:1367, `_verify_cell_blas` :1193)
# on r6 evidence; neither rotates into the r8 window naturally:
#   dedup_embedding_ann_imi  ev r6, helpers rewritten r7
#   similarity_ann_imi       ev r6, imports the same rewritten helpers
# From r8 on this list is GENERATED, not hand-audited: see
# tools/evidence_audit.py (static AST closure of each operator over
# in-repo helpers, diffed against each round's changed line ranges) and
# tests/test_evidence_audit.py which fails if this dict drifts from the
# tool's output.
_FORCE_RECHECK = {  # key -> round whose green is void
    # Maintained mechanically: tools/evidence_audit.py computes each
    # key's helper-closure staleness vs its evidence-round commit, and
    # tests/test_evidence_audit.py fails the suite when a stale key is
    # neither listed here nor inside the next 50-key window. PRUNE ON
    # EXPIRY (r10 VERDICT item 3): an entry is inert once evidence
    # from a later round lands, and leaving it here makes the audit
    # output read as pending work — the audit now reports live vs
    # expired separately, and expired entries are deleted the round
    # after they expire. (History: r5 dedup_url; r7 hand-audit batch;
    # r8 IMI/TxTable batch; r9 trained-bank + BPE-helper batch —
    # expired by r8/r9 greens; r10 subsequence pair — expired by the
    # r10 greens.)
    #
    # (r11's six entries — pipeline_clean_corpus, stream_bpe_vocab_drift,
    # stream_subsequence_match, agg_approx_quantile@8,
    # dedup_embedding_ann_trained, pipeline_train_corpus — all expired
    # via their CORRECTNESS_r11 greens and are pruned per the policy,
    # as are r12's four — agg_approx_quantile@11, rag_passage_windows,
    # stream_bpe_vocab_drift@11, join_anti@9 — expired by their
    # CORRECTNESS_r12 greens.)
    #
    # (r13's single entry — stream_bpe_vocab_drift@12, the idempotent
    # foreachBatch rewrite — expired via its CORRECTNESS_r13 green and
    # is pruned per the policy.)
    #
    # (r14's three entries — rag_topk_retrieval_wand@13,
    # rag_topk_retrieval_wand_bm25@13, stream_bpe_vocab_drift@13, the
    # _wand_plan cache-registry + Hadoop-FS accumulator rewrites — all
    # expired via their CORRECTNESS_r14 greens and are pruned per the
    # policy.)
    #
    # r15: helper closures rewritten on r14 evidence — _wand_plan's
    # cache registry re-keyed per plan identity + il-without-imp guard
    # (r14 ADVICE), _index_tag content fingerprinting in every ensure
    # accessor, _bmw_cand split into _blocked_postings/_bmw_filter,
    # and stream_ann_route_pq's index accessor moved to the bucketed
    # catalog table. All nine are tier-1-forced (window: 6 new + 9
    # forced + the full 32-key r10 cohort + 3 = 50). The five WAND/BMW
    # entries moved to the r16 block below.
    "rag_topk_from_index": 14,
    "rag_manifest_delta": 14,
    "rag_index_delta": 14,
    "stream_ann_route_pq": 14,
    # r15 OPTIMIZATION round: operator internals rewritten for
    # performance with results proven oracle-identical in-session
    # (OPTIMIZATION_r15.md per-operator log) — span/line dedup gram
    # caches, boilerplate df rewrite, ppl/LM per-type join, CC
    # two-phase driver finish (clusters/ER/pipelines), bloom-bitmap
    # literal probe, pack projection cache, _wand_topk matched-first
    # scoring, PageRank invariant checkpoint, router/ANN streaming
    # static-side materialization. Forced so the driver's own hash
    # gate re-proves each at its next window slot (generated by
    # tools/evidence_audit.py).
    "dedup_clusters": 14,
    "docs_ngram_lm": 11,
    "text_boilerplate_strip": 12,
    "text_ppl_buckets": 11,
    "dedup_span_variable": 11,
    "stream_query_router": 13,
    "stream_ann_route": 13,
    "pipeline_clean_corpus": 11,
    "pack_sequences": 12,
    "er_cluster_entities": 13,
    "text_line_dedup": 12,
    "pipeline_train_corpus": 11,
    "graph_pagerank": 12,
    "join_bloom_prefilter": 14,
    "dedup_span_exact": 10,
    "cross_channel_intersect": 10,
    "similarity_rerank_mmr": 10,
    # r15 opt continuation: langid_frame/quality_frame grew keep=()
    # pass-through params so pipeline_clean_corpus fuses both stages
    # into one corpus scan (results oracle-identical in-session; the
    # fused key is already forced above).
    "text_langid": 10,
    "text_quality": 10,
    "stream_quality_filter": 12,
    # r15 opt continuation: the constant IVF/PQ Column trees are
    # memoized per SparkContext (_memo_const_cols — expression reuse
    # only, results oracle-identical in-session); the other memo
    # consumers are already forced above at r14.
    "similarity_ivf": 10,
    "embedding_pq": 11,
    "similarity_ivf_pq": 12,
    # r16 snapshot: the WAND/BMW candidate-broadcast guard, the on-disk
    # BM25 meta table and the generational stream_index_delta append
    # landed after these keys' r15 greens (dedup_embedding_ann: the
    # trainer-frame reuse, after its r13 green). All ten re-verified
    # oracle-identical at sf0.01 with tools/verify_oracle.py; forced so
    # the oracle gate re-proves them on the code that ships.
    "dedup_embedding_ann": 13,
    "rag_topk_retrieval_wand": 15,
    "rag_topk_retrieval_wand_bm25": 15,
    "rag_topk_retrieval_wand_multi": 15,
    "rag_topk_retrieval_bmw": 15,
    "rag_wand_from_index": 15,
    "rag_bm25_from_index": 15,
    "rag_bmw_from_index": 15,
    "rag_bm25_index_delta": 15,
    "stream_index_delta": 15,
}


def _ordered(keys: dict) -> dict:
    evidence = _driver_evidence()
    reg_order = {k: i for i, k in enumerate(keys)}
    hint = {k: i for i, k in enumerate(_PRIORITY)}
    big = len(_PRIORITY)

    def sort_key(k: str):
        ev = evidence.get(k)
        if ev is not None and ev[0] <= _FORCE_RECHECK.get(k, -1):
            ev = None
        tie = (hint.get(k, big), reg_order[k])
        if ev is not None and not ev[1]:
            return (0, 0, tie)          # most recent check failed
        if ev is None:
            return (1, 0, tie)          # never driver-checked
        return (2, ev[0], tie)          # green: stalest round first

    return {k: keys[k] for k in sorted(keys, key=sort_key)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query key (subset of queries())."""
    return dict(ORACLES)
