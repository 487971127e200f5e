"""Physical-plan regression gates: the plans we ship are the plans we
want at 100 TB — filters pushed to the scan, projections pruned,
dimensions broadcast, top-k never a global sort."""

import __spark_entry__ as E
from kafka_parquet_writer_spark import artifacts
from kafka_parquet_writer_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_pushed_filters,
    read_schema_columns,
    uses_broadcast_join,
)


def test_scan_project_prunes_columns(spark, sf_dir):
    df = E.queries()["scan_project"](spark, sf_dir)
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"}


def test_filter_pred_pushdown(spark, sf_dir):
    df = E.queries()["filter_pred"](spark, sf_dir)
    assert has_pushed_filters(df, "l_quantity", "l_returnflag", "l_shipdate")


def test_agg_hash_partial_aggregation(spark, sf_dir):
    plan = formatted_plan(E.queries()["agg_hash"](spark, sf_dir))
    # two-phase agg: partial_ functions before the exchange
    assert "partial_" in plan or "HashAggregate" in plan
    assert "PushedFilters" in plan


def test_join_multiway_broadcasts_dims(spark, sf_dir):
    df = E.queries()["join_multiway"](spark, sf_dir)
    assert uses_broadcast_join(df)


def test_topk_never_global_sort(spark, sf_dir):
    plan = formatted_plan(E.queries()["sort_limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_window_not_nested_loop(spark, sf_dir):
    plan = formatted_plan(E.queries()["join_asof"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_minhash_profiles_single_shuffle(spark, sf_dir):
    """Signature+docset build: ONE exchange (the compute repartition);
    the groupBy(doc) must reuse that partitioning via alias-aware
    output partitioning — a second exchange here doubles the shuffled
    volume of the dominant dedup stage."""
    from kafka_parquet_writer_spark.operators.dedup import (
        MINHASH_COEFFS,
        _doc_profiles,
        _shingle_pairs,
    )

    # cached subplans from other tests legitimately change the plan
    # (InMemoryTableScan boundaries); assert the clean-cache shape
    artifacts.clear(spark)
    prof = _doc_profiles(_shingle_pairs(spark, sf_dir), MINHASH_COEFFS)
    assert count_exchanges(prof) == 1


def test_dedup_plans_never_cartesian(spark, sf_dir):
    for name in ("dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard"):
        plan = formatted_plan(E.queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_embedding_dedup_never_broadcasts_corpus(spark, sf_dir):
    """The exact form is a grid-distributed equi-join, the ANN form a
    cell-bucketed equi-join — neither may plan a full-corpus broadcast
    nested-loop join or a cartesian product (the r1 shape that OOMs at
    scale)."""
    plan = formatted_plan(E.queries()["dedup_embedding"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # ANN (r5 Arrow form): assignment is a mapInArrow closure and the
    # verify an applyInPandas per cell — no joins should remain at all
    plan = formatted_plan(E.queries()["dedup_embedding_ann"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_embedding_dedup_ann_no_false_positives_high_recall(spark, sf_dir):
    """ANN contract vs the exact grid join: the exact-cosine verify
    step guarantees zero false positives; candidate recall on the
    isotropic fixture is ≥0.9 (measured: 62/66 @ sf0.001, 59/59 @
    sf0.01 — full recall at the driver's correctness scale)."""
    exact = {
        (r.v1, r.v2)
        for r in E.queries()["dedup_embedding"](spark, sf_dir).collect()
    }
    ann = {
        (r.v1, r.v2)
        for r in E.queries()["dedup_embedding_ann"](spark, sf_dir).collect()
    }
    assert ann <= exact
    assert len(ann) >= 0.9 * len(exact)


def test_ivf_probe_join_broadcasts_queries(spark, sf_dir):
    plan = formatted_plan(E.queries()["similarity_ivf"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # probes (tiny) broadcast to corpus
    assert "CartesianProduct" not in plan


def test_tpch_sweep_plans_no_cartesian_dims_broadcast(spark, sf_dir):
    """TPC-H sweep plan gates: no cartesian products anywhere (tpch_q22's
    BroadcastNestedLoopJoin is the canonical 1-row scalar-subquery
    broadcast and is allowed); snowflake queries broadcast their dims."""
    for name in ("tpch_q1", "tpch_q2", "tpch_q4", "tpch_q5", "tpch_q7",
                 "tpch_q10", "tpch_q12", "tpch_q13", "tpch_q15", "tpch_q16",
                 "tpch_q17", "tpch_q19", "tpch_q21", "tpch_q22"):
        plan = formatted_plan(E.queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "PushedFilters" in plan, name
    for name in ("tpch_q5", "tpch_q7"):
        assert uses_broadcast_join(E.queries()[name](spark, sf_dir)), name


def test_salted_join_uses_shuffle_join(spark, sf_dir):
    """The merge hint must hold — a broadcast join would bypass the
    salted shuffle path the operator exists to demonstrate."""
    plan = formatted_plan(E.queries()["join_salted_skew"](spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_udaf_single_exchange_into_pandas(spark, sf_dir):
    """groupBy must reuse the explicit compute repartition — one
    exchange feeding FlatMapGroupsInPandas."""
    df = E.queries()["udaf_grouped"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert count_exchanges(df) == 1


def test_sessionize_single_shuffle(spark, sf_dir):
    """Gaps-and-islands sessionization: both window passes AND the
    per-session aggregate reuse ONE user_id shuffle."""
    df = E.queries()["sessionize_batch"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert count_exchanges(df) == 1


def test_range_band_join_broadcasts_interval_dim(spark, sf_dir):
    """Interval join: tiny band dim must broadcast (BNLJ with inline
    range predicate); the only exchange is the 4-group final agg."""
    df = E.queries()["join_range_band"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert count_exchanges(df) == 1


def test_stratified_sample_zero_shuffle(spark, sf_dir):
    """Hash-based stratified sampling is a stateless per-row filter +
    broadcast rates join: ZERO shuffle exchanges."""
    df = E.queries()["sample_stratified"](spark, sf_dir)
    assert uses_broadcast_join(df)
    assert count_exchanges(df) == 0


def test_unpivot_expands_after_aggregate(spark, sf_dir):
    """Melt must multiply |groups|, not |lineitem|: Expand sits above
    the single aggregate exchange."""
    df = E.queries()["unpivot_long"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Expand" in plan
    assert count_exchanges(df) == 1


def test_rollup_hierarchy_one_pass(spark, sf_dir):
    """Hypertable rollup: one Expand-based pass over events, never a
    join or cartesian of per-granularity scans."""
    plan = formatted_plan(E.queries()["rollup_time_hierarchy"](spark, sf_dir))
    assert "Expand" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_tpch_q8_q9_broadcast_dims_no_cartesian(spark, sf_dir):
    for k in ("tpch_q8", "tpch_q9"):
        df = E.queries()[k](spark, sf_dir)
        plan = formatted_plan(df)
        assert uses_broadcast_join(df), k
        assert "CartesianProduct" not in plan, k
        # fact-side shuffles only (lineitem⋈orders + agg) — the seven
        # dimension joins must never add exchanges
        assert count_exchanges(df) <= 3, k


def test_tpch_q11_reuses_aggregate_for_total(spark, sf_dir):
    """The global total must come from a window over the part-grain
    aggregate (Q15 pattern) — never a second scan of lineitem."""
    plan = formatted_plan(E.queries()["tpch_q11"](spark, sf_dir))
    # 3 scans (lineitem+supplier+nation), each listed twice (tree+detail)
    assert plan.count("Scan parquet") <= 6
    assert "Window" in plan


def test_tpch_q20_single_fact_aggregate(spark, sf_dir):
    """All-time and window quantities from ONE conditional-agg pass."""
    df = E.queries()["tpch_q20"](spark, sf_dir)
    plan = formatted_plan(df)
    # lineitem+part+supplier+nation scans, each listed twice (tree+detail)
    assert plan.count("Scan parquet") <= 8
    assert count_exchanges(df) <= 3


def test_text_repetition_single_compute_repartition(spark, sf_dir):
    """The Gopher rules are per-row expressions with no cross-row
    dependency: exactly ONE exchange — the explicit compute
    repartition that spreads the O(distinct²) per-doc work across
    cores (see repartition_for_compute) — and no aggregation."""
    df = E.queries()["text_repetition"](spark, sf_dir)
    assert count_exchanges(df) == 1
    assert "HashAggregate" not in formatted_plan(df)


def test_docs_ngram_lm_no_cartesian(spark, sf_dir):
    """Corpus LM scoring: count aggs + equi-joins only. The single
    BroadcastNestedLoopJoin is the 1-row vocab-size broadcast (the
    scalar-subquery pattern) — a real cartesian would be a bug."""
    plan = formatted_plan(E.queries()["docs_ngram_lm"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_attribution_one_join_one_window(spark, sf_dir):
    """U-shaped attribution: ONE equi-join (user_id) carrying the
    time-band as a residual predicate — never a nested-loop over the
    band — plus one window pass keyed by purchase_id for (rn, n)."""
    df = E.queries()["events_attribution"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    # at small sf the click side broadcasts; at scale it shuffle-joins —
    # either way exactly one equi-join node (tree + detail = ≤2 mentions)
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert 1 <= n_joins <= 2, plan


def test_format_roundtrips_scan_written_dir(spark, sf_dir):
    """The round-trip queries must aggregate the READ-BACK files in the
    target format — a plan that scans the source parquet would prove
    nothing about the serialize→deserialize cycle."""
    for key, fmt in (
        ("source_orc_roundtrip", "orc"),
        ("source_csv_roundtrip", "csv"),
        ("source_json_roundtrip", "json"),
    ):
        plan = formatted_plan(E.queries()[key](spark, sf_dir))
        assert f"Scan {fmt}" in plan, (key, plan)
        assert "Scan parquet" not in plan, (key, plan)


def test_sample_weighted_topk_pushdown(spark, sf_dir):
    """Weighted sampling must plan per-partition top-K + driver merge
    (TakeOrderedAndProject), never a global sort of the corpus."""
    plan = formatted_plan(E.queries()["sample_weighted"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_interval_overlap_equi_join(spark, sf_dir):
    """The binned interval join must be an equi-join on (supplier, bin)
    with the overlap predicate residual — a raw overlap predicate would
    plan a nested loop."""
    plan = formatted_plan(E.queries()["join_interval_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_phash_never_cartesian(spark, sf_dir):
    for name in ("dedup_containment", "multimodal_phash_dedup", "dedup_url"):
        plan = formatted_plan(E.queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_cube_single_expand_aggregate(spark, sf_dir):
    """CUBE must plan as ONE Expand feeding one two-phase aggregate —
    never 2^dims separate scans."""
    df = E.queries()["agg_cube"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Scan parquet") <= 2  # tree + detail
    assert "Expand" in plan


def test_dq_rules_one_scan_per_table(spark, sf_dir):
    """All conditional-agg rules for a table must share one scan; the
    uniqueness rule adds its own scan of orders (distinct agg) — 3
    scans total (lineitem + orders + orders), each listed twice."""
    plan = formatted_plan(E.queries()["dq_rules"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 6


def test_lateral_topk_decorrelates_to_window_limit(spark, sf_dir):
    """The correlated LATERAL (ORDER BY + LIMIT per customer) must
    decorrelate into the window top-k shape — WindowGroupLimit with a
    map-side partial BEFORE the exchange — joined back broadcast/hash.
    A plan that kept per-row subquery semantics would show a nested
    loop."""
    plan = formatted_plan(E.queries()["join_lateral_topk"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_variant_stays_jvm_side(spark, sf_dir):
    """VARIANT parse + typed extraction are JVM expressions — the plan
    must contain no Python evaluation nodes."""
    df = E.queries()["scalar_variant"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # column pruning: only the two consumed columns reach the scan
    assert set(read_schema_columns(df)) == {"event_type", "props"}


def test_markov_gini_twap_single_shuffle_family(spark, sf_dir):
    """The lead()/rank() window and the downstream aggregate must share
    one exchange on the same key — the single-shuffle pattern every
    sequence operator here follows."""
    for name, max_exchanges in (
        ("events_markov_transitions", 3),  # seq + (src,dst) agg + norm
        ("agg_gini", 2),                   # rank window + group agg
        ("agg_time_weighted_avg", 1),      # lead + agg share user_id
        ("window_running_distinct", 1),    # both windows share user_id
    ):
        df = E.queries()[name](spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert count_exchanges(df) <= max_exchanges, name


def test_bloom_prefilter_never_shuffles_fact(spark, sf_dir):
    """The entire point of a runtime filter: the fact side is never
    shuffled — the truth dim reaches it by broadcast and the bitmap by
    a collected array literal probed with per-row bit math (r15: the
    three bitmap probe joins collapsed into expressions, and the
    bitmap subtree no longer re-executes per hash — 22 scans → ≤3)."""
    plan = formatted_plan(E.queries()["join_bloom_prefilter"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly one join total — the truth dim LeftOuter (each node shows
    # twice in formatted output: tree line + detail line)
    assert plan.count("BroadcastHashJoin LeftOuter") == 1
    assert plan.count("BroadcastHashJoin Inner") == 0
    assert plan.count("Scan parquet") <= 4  # lineitem + dim, ×2 mentions


def test_tpcds_shapes_single_expand_broadcast_dim(spark, sf_dir):
    p1 = formatted_plan(E.queries()["channel_union_rollup"](spark, sf_dir))
    assert p1.count("Expand (") == 1  # tree lists once, detail once
    assert "SortMergeJoin" not in p1
    p2 = formatted_plan(E.queries()["rollup_share_rank"](spark, sf_dir))
    assert p2.count("Expand (") == 1
    assert "BroadcastHashJoin" in p2  # part is a broadcast dim
    assert "SortMergeJoin" not in p2


def test_countmin_probe_broadcasts_sketch(spark, sf_dir):
    """The 192-row sketch broadcasts to the probe join; the only
    shuffles are the two aggregates (sketch build collapses map-side
    to ≤192 rows per partition)."""
    plan = formatted_plan(E.queries()["agg_countmin"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_no_cartesian_broadcast_shortlist(spark, sf_dir):
    plan = formatted_plan(E.queries()["similarity_ivf_pq"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_audience_overlap_sketch_broadcast(spark, sf_dir):
    """Sketch pair-scoring and size lookups broadcast (64-row
    relations); the only real shuffles are the audience distinct and
    the sketch groupBy."""
    plan = formatted_plan(E.queries()["agg_audience_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_point_in_polygon_broadcast_cells_no_cartesian(spark, sf_dir):
    plan = formatted_plan(E.queries()["join_point_in_polygon"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_theta_sketch_broadcasts_pairs_no_cartesian(spark, sf_dir):
    """The sketch pair joins and size lookups are ≤24-row relations —
    broadcast them; the only real shuffles are the audience distinct,
    the hash distinct, and the per-hour k-minima window."""
    plan = formatted_plan(E.queries()["agg_theta_sketch"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_time_bands_single_scan_no_join(spark, sf_dir):
    """Q88's 8 bands must fold into ONE scan: no joins at all, and the
    only exchange is the final single-partition gather of 8 counters."""
    plan = formatted_plan(E.queries()["events_time_bands"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # tree + detail of the 1-row gather
    assert "partial_sum" in plan  # map-side partials before the gather


def test_margin_hierarchy_single_expand_broadcast_dim(spark, sf_dir):
    """ROLLUP is ONE Expand feeding one aggregate (subtotals are not
    separate jobs) and the part dimension broadcasts into the fact."""
    plan = formatted_plan(E.queries()["rollup_margin_hierarchy"](spark, sf_dir))
    assert plan.count("Expand") <= 2  # tree + detail section of one node
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_is_join_free(spark, sf_dir):
    """Centroids ride the assignment UDF's closure (driver-held, the
    MLlib pattern) — the final-round plan must contain NO join of any
    kind and no shuffle before the Arrow assignment stage (the fact is
    scanned, mapped, done)."""
    plan = formatted_plan(E.queries()["embedding_cluster_kmeans"](spark, sf_dir))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "Exchange" not in plan  # assignment itself needs no shuffle


def test_span_dedup_equi_join_only(spark, sf_dir):
    """The duplicate-gram semi-join must be an equi-join on the gram
    hash — never a nested loop over positions."""
    plan = formatted_plan(E.queries()["dedup_span_exact"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_classifier_no_join_one_shuffle(spark, sf_dir):
    """Scoring is a stateless per-token expression: no join anywhere,
    one partial-agg shuffle keyed by doc_id."""
    plan = formatted_plan(E.queries()["text_quality_classifier"](spark, sf_dir))
    assert "Join" not in plan
    assert "partial_" in plan


def test_bpe_candidates_topk_pushdown_broadcast_lookups(spark, sf_dir):
    """Top-50 merge pairs must plan as TakeOrderedAndProject (never a
    global sort) with the unigram/total lookups broadcast onto the
    pair table."""
    plan = formatted_plan(E.queries()["text_bpe_merge_candidates"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cross_channel_intersect_semi_joins_only(spark, sf_dir):
    """INTERSECT and the fact gate must plan as (left-)semi joins on
    the item key — no cartesian, no nested loop."""
    plan = formatted_plan(E.queries()["cross_channel_intersect"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_clean_corpus_single_corpus_scan(spark, sf_dir):
    """r15 opt shape: langid and quality are row-wise functions of the
    SAME document row, fused through one corpus scan (langid_frame
    keep= threads text/n_chars into quality_frame) — the old
    lang ⋈ qual inner join of two full corpus projections re-scanned
    and re-tokenized the corpus and broadcast-built the ENTIRE quality
    projection. Gate: exactly one documents.parquet scan, and the only
    join left is the drop-list anti (AQE-sized, no hint — the r10
    contract pinned by test_clean_corpus_drop_list_carries_no_broadcast_hint)."""
    plan = formatted_plan(E.queries()["pipeline_clean_corpus"](spark, sf_dir))
    assert plan.count("documents.parquet") == 1
    assert "Join Inner" not in plan and " Inner," not in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_mmr_rerank_single_lazy_plan(spark, sf_dir):
    """r15 shape: ONE lazy plan — the query vector rides a broadcast
    1-row join (no driver collect), the shortlist is
    TakeOrderedAndProject over the scans, and the greedy recurrence is
    a single MapInPandas batch over the shortlist. The r5 form's 6
    eager actions (collect + 5 localCheckpoints, ~3 s of the key's
    3.1 s warm) must stay gone: no ExistingRDD scan, no cartesian of
    corpus×corpus (the only join is against the broadcast 1-row query
    side)."""
    plan = formatted_plan(E.queries()["similarity_rerank_mmr"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "MapInPandas" in plan
    assert "ExistingRDD" not in plan  # no checkpointed slate
    assert "CartesianProduct" not in plan
    # the sole join is the broadcast of the 1-row query vector
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_trained_key_broadcasts_stats_join(spark, sf_dir):
    """dedup_embedding_ann_trained's final bank⋈stats join is 128 rows
    on each side — it must plan as a broadcast hash join (never a
    sort-merge shuffle of a 128-row dimension), and the assignment must
    stay a mapInPandas closure with no residual join against the
    corpus."""
    plan = formatted_plan(
        E.queries()["dedup_embedding_ann_trained"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rag_passage_windows_is_shuffle_free(spark, sf_dir):
    """End-anchored passage windowing must stay a single-pass map plan:
    the parquet scan's partitioning survives through words → explode →
    slice → hash with ZERO exchanges, and the scan reads only the two
    columns the operator uses — at 100 TB this is the map stage feeding
    the embedding UDF and any shuffle here would dwarf the real work."""
    df = E.queries()["rag_passage_windows"](spark, sf_dir)
    assert count_exchanges(df) == 0
    assert set(read_schema_columns(df)) == {"doc_id", "text"}


def test_rag_shard_manifest_shuffles_vocab_only(spark, sf_dir):
    """The manifest build pays exactly two exchanges — vocabulary-sized
    (token agg) and shard-count-sized (the 16-row rollup) — with the
    per-doc distinct done row-local via array_distinct BEFORE the
    explode, so the corpus itself never crosses the wire."""
    df = E.queries()["rag_shard_manifest"](spark, sf_dir)
    assert count_exchanges(df) == 2
    plan = formatted_plan(df)
    assert "array_distinct" in plan


def test_rag_query_router_broadcasts_manifest(spark, sf_dir):
    """The router's manifest side is 16 rows — the routing join must
    be a broadcast (never a shuffle join sized by the query workload),
    and the corpus must stay out of the routing side entirely: the
    documents table is scanned exactly once (inside the manifest
    build, with its pruned two-column schema) and the query side reads
    only part's two routing columns. The router's own aggregates pay
    exchanges keyed by (query_id, shard_id) then query_id — the
    query-workload scale, not the corpus scale."""
    df = E.queries()["rag_query_router"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # documents once (manifest build), part once — formatted mode
    # prints each node in the tree AND a detail header, so count the
    # numbered detail headers only
    import re

    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)
    assert len(scans) == 2, plan
    # doc_id is PRUNED from the documents scan: array_distinct dedups
    # tokens inside the row, so df = count(1) per token needs no doc
    # ids at all — the corpus read is a single text column
    assert set(read_schema_columns(df)) == {"text", "p_partkey", "p_name"}


def test_rag_topk_retrieval_single_corpus_scan(spark, sf_dir):
    """End-to-end retrieval must pay the IR shape, not the corpus
    shape: the query vocabulary broadcasts into the exploded token
    stream BEFORE any exchange (so only matching postings shuffle),
    df comes from a window over tf rather than a second aggregate
    branch (Catalyst does not share subplans — the branch form scanned
    documents twice, caught by this gate's first run), and no join is
    ever sort-merge. documents appears exactly once among the scans;
    the two part scans are the broadcast query side."""
    import re

    artifacts.clear(spark)
    df = E.queries()["rag_topk_retrieval"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the impact-list truncation (the quadratic guard) must compile
    # to WindowGroupLimit — per-partition partial top-L ahead of the
    # token shuffle, not a full-postings sort
    assert "WindowGroupLimit" in plan
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)
    assert len(scans) == 3, scans  # documents + 2 broadcast part sides
    # the scan headers carry no path; Location detail lines do —
    # documents' location must appear exactly once
    assert plan.count("documents.parquet") == 1
    assert count_exchanges(df) <= 5


def test_approx_quantile_rank_gate_broadcasts_sketch(spark, sf_dir):
    """The rank-interval accuracy gate (r11 review fix) joins the
    |groups|-row sketch table back to events for the rank counts —
    that join must be a BROADCAST (the sketch side is group-cardinal,
    never corpus-shaped), and the whole plan pays exactly the two
    keyed aggregates: sketch + rank count. A shuffle join or a third
    exchange here would mean the corpus crosses the wire twice more
    at 100 TB for a validation column."""
    df = E.queries()["agg_approx_quantile"](spark, sf_dir)
    assert uses_broadcast_join(df)
    assert count_exchanges(df) <= 2


def test_rag_topk_retrieval_wand_single_scan_no_smj(spark, sf_dir):
    """The WAND key must pay the same IR shape as the static key —
    corpus scanned ONCE (imp is cached: four consumers, and Catalyst
    does not share subplans — uncached this was 4 document scans,
    caught by this gate's first run), query side once, every join
    broadcast or candidate-sized, never sort-merge, never a
    cartesian."""
    import re

    artifacts.clear(spark)
    df = E.queries()["rag_topk_retrieval_wand"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("documents.parquet") == 1, plan.count(
        "documents.parquet"
    )
    assert plan.count("part.parquet") == 1
    # the theta seed pass keeps the static key's WindowGroupLimit
    # partial top-L (the quadratic guard survives inside WAND)
    assert "WindowGroupLimit" in plan
    artifacts.clear(spark)


def test_rag_topk_retrieval_bm25_keeps_ir_shape(spark, sf_dir):
    """BM25 must pay the static key's IR shape: query vocabulary
    broadcast before any exchange, df via window over match-sized tf
    rows (single documents scan in the returned plan — avgdl comes
    from a separate build-time scalar, not an aggregate branch),
    WindowGroupLimit truncation, no sort-merge join."""
    import re

    df = E.queries()["rag_topk_retrieval_bm25"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("documents.parquet") == 1
    assert count_exchanges(df) <= 5


def test_rag_topk_retrieval_wand_bm25_single_scan(spark, sf_dir):
    """The BM25-scored WAND variant shares the candidate machinery —
    same gate: one documents scan (imp cached), broadcast-only joins,
    no cartesian, theta seed's WindowGroupLimit intact."""
    import re

    artifacts.clear(spark)
    df = E.queries()["rag_topk_retrieval_wand_bm25"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("documents.parquet") == 1
    assert plan.count("part.parquet") == 1
    artifacts.clear(spark)


def test_rag_topk_from_index_never_scans_corpus(spark, sf_dir):
    """THE materialized-index gate (r13 VERDICT item 2): the serving
    plan must read ONLY the persisted impact-L table plus the query
    workload — the raw corpus appears nowhere at query time. Build
    cost is paid building the impact_l artifact before this plan exists;
    query-time cost is queries × terms × L, corpus-independent."""
    artifacts.clear(spark)
    df = E.queries()["rag_topk_from_index"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0
    assert "kpws_rag_idx.impact_l_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # per-query top-k compiles to WindowGroupLimit, never a global sort
    assert "WindowGroupLimit" in plan
    assert count_exchanges(df) <= 2


def test_rag_index_build_single_scan_topl_partial(spark, sf_dir):
    """The build side pays the corpus exactly once: single documents
    scan, df via window over the tf rows (no second aggregate branch),
    WindowGroupLimit keeping the top-L truncation partial ahead of the
    token exchange, no join anywhere."""
    df = E.queries()["rag_index_build"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert "WindowGroupLimit" in plan
    assert count_exchanges(df) <= 2


def test_rag_wand_multi_two_scans_no_smj(spark, sf_dir):
    """The derived-workload WAND key pays _wand_plan's IR shape plus
    the workload generator: exactly two documents scans (the sampled
    derivation scan — doc_id % predicate pushed down — and the
    match-filtered postings scan), part untouched, every join
    broadcast, never sort-merge, θ seed's WindowGroupLimit intact."""
    artifacts.clear(spark)
    df = E.queries()["rag_topk_retrieval_wand_multi"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("documents.parquet") == 2
    assert plan.count("part.parquet") == 0
    # the sampling predicate reaches the derivation scan
    assert has_pushed_filters(df, "doc_id")
    artifacts.clear(spark)


def test_rag_bmw_same_shape_no_extra_block_exchange(spark, sf_dir):
    """Block-max WAND must not pay an extra exchange for the block
    table: pos/blk/blockmax ride the SAME token partitioning as the
    impact lists (HashPartitioning(token) satisfies the (token, blk)
    clustering), so the plan's exchange count stays within one of the
    plain multi-term WAND key's."""
    artifacts.clear(spark)
    df_ms = E.queries()["rag_topk_retrieval_wand_multi"](spark, sf_dir)
    n_ms = count_exchanges(df_ms)
    artifacts.clear(spark)
    df = E.queries()["rag_topk_retrieval_bmw"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("documents.parquet") == 2
    assert count_exchanges(df) <= n_ms + 1
    artifacts.clear(spark)


def test_rag_wand_plan_independent_of_session_history(spark, sf_dir):
    """artifacts.clear resets what a WAND key remembers along with the
    cache: built, cleared and built again, the plan is the same. (The
    candidate-count memo outliving a bare clearCache made the second
    build plan 18 exchanges where the first planned 21.)"""
    artifacts.clear(spark)
    first = count_exchanges(E.queries()["rag_topk_retrieval_wand_multi"](spark, sf_dir))
    artifacts.clear(spark)
    second = count_exchanges(E.queries()["rag_topk_retrieval_wand_multi"](spark, sf_dir))
    artifacts.clear(spark)
    assert first == second


def test_rag_manifest_delta_scans_delta_only(spark, sf_dir):
    """Incremental manifest maintenance must never re-read the base
    corpus: exactly ONE documents scan (the CDC delta, doc_id %
    predicate evaluated at the scan) plus the materialized
    vocabulary-sized term-df state. The full-outer merge is the one
    join Spark cannot broadcast (full outer), and the token-bucketed
    state is what keeps its state side exchange-free — total
    exchanges stay <= 3 (delta aggregate, delta's merge re-shuffle,
    shard rollup)."""
    artifacts.clear(spark)
    df = E.queries()["rag_manifest_delta"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1
    assert "kpws_rag_idx.manifest_state_" in plan
    assert "CartesianProduct" not in plan
    assert count_exchanges(df) <= 3


def test_rag_index_delta_scans_delta_only(spark, sf_dir):
    """Incremental index maintenance must never re-read the base
    corpus: exactly ONE documents scan (the CDC delta, cached —
    uncached, the affected-vocabulary semi/anti joins re-tokenized
    the delta 3x, caught by this gate's first run) plus the two
    token-bucketed state tables; the affected-list rebuild keeps the
    WindowGroupLimit top-L partial; no sort-merge join anywhere."""
    artifacts.clear(spark)
    df = E.queries()["rag_index_delta"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1
    assert "kpws_rag_idx.tf_state_" in plan
    assert "kpws_rag_idx.base_impact_l_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert count_exchanges(df) <= 4
    artifacts.clear(spark)


def test_rag_wand_from_index_never_scans_corpus(spark, sf_dir):
    """The dynamic-pruning path under the materialized-index contract:
    θ seed from the impact-L table, candidates + exact scoring from
    the full postings table, UB stats as a bucketed aggregate — zero
    documents scans in the query-time plan."""
    artifacts.clear(spark)
    df = E.queries()["rag_wand_from_index"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0
    assert "kpws_rag_idx.postings_" in plan
    assert "kpws_rag_idx.impact_l_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    artifacts.clear(spark)


def test_rag_bm25_from_index_never_scans_corpus(spark, sf_dir):
    """BM25 served from materialized state (r14 VERDICT item 3): tf
    saturation, length normalization, and avgdl are baked into the
    stored impacts at build time, so the query-time plan reads ONLY
    the BM25 postings + impact-L tables plus the query workload — the
    raw corpus (and its dl/avgdl inputs) appears nowhere."""
    artifacts.clear(spark)
    df = E.queries()["rag_bm25_from_index"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 0
    assert "kpws_rag_idx.bm25_postings_" in plan
    assert "kpws_rag_idx.bm25_impact_l_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    artifacts.clear(spark)


def test_rag_bmw_from_index_single_workload_scan(spark, sf_dir):
    """Block-max WAND from the materialized index: blockmax is a
    BUILD-TIME column of the blocked postings table, so the query
    plan adds zero window passes over postings — the only documents
    scan is the derived-workload generator (query side, sampled,
    doc_id % predicate pushed), never the corpus side."""
    artifacts.clear(spark)
    df = E.queries()["rag_bmw_from_index"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1
    assert "kpws_rag_idx.postings_blk" in plan
    assert "kpws_rag_idx.postings_" in plan
    assert "kpws_rag_idx.impact_l_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert has_pushed_filters(df, "doc_id")
    artifacts.clear(spark)


def test_rag_bm25_index_delta_scans_delta_only(spark, sf_dir):
    """BM25 index maintenance never re-reads base text whichever
    branch the avgdl decision takes: ONE documents scan (the delta)
    plus the (tf, dl) state table; the re-rank keeps WindowGroupLimit
    partial; no sort-merge join."""
    artifacts.clear(spark)
    df = E.queries()["rag_bm25_index_delta"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1
    assert "kpws_rag_idx.bm25_tfdl_state_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    artifacts.clear(spark)


def test_ann_index_build_per_row_no_exchange(spark, sf_dir):
    """The ANN index build is the theoretical floor: one embeddings
    scan, per-row assignment + coding expression trees, zero
    exchanges, no join, no window."""
    df = E.queries()["ann_index_build"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("embeddings.parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert count_exchanges(df) == 0


def test_ann_index_delta_append_only(spark, sf_dir):
    """Vector-index maintenance is append-only (coding is per-row —
    no corpus-global statistic): one embeddings scan (the delta),
    the cell-bucketed base table, a Union — zero joins, zero window
    passes, zero exchanges."""
    df = E.queries()["ann_index_delta"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("embeddings.parquet") == 1
    assert "kpws_rag_idx.ann_pq_base_" in plan
    assert "Union" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert count_exchanges(df) == 0


def test_stream_ann_route_pq_serves_from_bucketed_table(spark, sf_dir):
    """The streaming PQ route's static side is the cell-bucketed
    catalog table (r14's mkdtemp parquet dir is gone): the sunk
    candidate plan joins kpws_rag_idx.ann_pq_* — receipted from the
    finished query's plan since the streaming plan is not inspectable
    pre-run."""
    from kafka_parquet_writer_spark.operators import streaming_queries as SQ

    E.queries()["stream_ann_route_pq"](spark, sf_dir).collect()
    plan = SQ._plan_receipt(SQ.last_query)["plan"]
    assert "ann_pq_" in plan
    assert "BroadcastHashJoin" in plan


def test_rag_postings_delta_scans_delta_only(spark, sf_dir):
    """Full-postings maintenance reads the delta and the state tables
    only — one documents scan, both bucketed tables, no rank pass
    (nothing truncates), no sort-merge join."""
    artifacts.clear(spark)
    df = E.queries()["rag_postings_delta"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1
    assert "kpws_rag_idx.tf_state_" in plan
    assert "kpws_rag_idx.base_postings_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" not in plan
    artifacts.clear(spark)


def test_rag_blocked_delta_scans_delta_only(spark, sf_dir):
    """Blocked-postings maintenance reads the delta and the state
    tables only; re-blocking rides one token partitioning (rank +
    per-(token, blk) max) restricted to affected postings."""
    artifacts.clear(spark)
    df = E.queries()["rag_blocked_delta"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1
    assert "kpws_rag_idx.tf_state_" in plan
    assert "kpws_rag_idx.base_blocked_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    artifacts.clear(spark)


def test_wire_decoder_ships_only_the_value_column(spark):
    """Proto decode plans one MapInArrow whose Python input is the
    value column alone: a Kafka-shaped frame's key and timestamp never
    cross into the Python worker."""
    import datetime

    from kafka_parquet_writer_spark.sources.decoders import (
        encode_wire_format,
        wire_format_decoder,
    )

    df = spark.createDataFrame(
        [(b"k", encode_wire_format({1: "a", 2: 5}), datetime.datetime(2024, 1, 1))],
        "key binary, value binary, timestamp timestamp",
    )
    decoded = wire_format_decoder({"s": (1, "string"), "n": (2, "long")})(df)
    plan = formatted_plan(decoded)
    assert "MapInPandas" not in plan
    (node,) = [
        sec for sec in plan.split("\n\n") if sec.lstrip().split("\n")[0].endswith(" MapInArrow")
    ]
    (inputs,) = [ln for ln in node.splitlines() if ln.startswith("Input ")]
    assert inputs.startswith("Input [1]: [value#"), inputs
