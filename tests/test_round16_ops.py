"""Round-16 (optimization round 2) regression tests: the WAND
candidate-broadcast size guard, BM25 state scalars as on-disk index
metadata, the generational (LSM) stream index maintainer, the
theta-sketch blob restructure, and the trained-bank shared cache."""

import pytest

SF = "/root/testdata/sf0.001"


# --------------------------------- WAND candidate broadcast guard


def test_wand_cand_guard_fallback_matches_broadcast(spark):
    """Forcing the shuffled-semi fallback (ceiling 0) must return the
    exact same rows as the broadcast branch — the guard may change
    the join STRATEGY, never the result — and the fallback plan must
    actually drop the candidate broadcast (a non-broadcast join
    strategy appears for the semi)."""
    import kafka_parquet_writer_spark.operators.rag_prep as RP
    import __spark_entry__ as E

    base = {
        tuple(r)
        for r in E.queries()["rag_topk_retrieval_wand_multi"](
            spark, SF
        ).collect()
    }
    old = RP.WAND_CAND_BCAST_MAX_ROWS
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    RP.WAND_CAND_BCAST_MAX_ROWS = 0
    # at fixture scale the planner would re-broadcast the tiny cached
    # candidate set on its own accurate stats (the guard only drops
    # the FORCED hint); disable auto-broadcast so the test observes
    # the genuine above-ceiling shape — a shuffled semi join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = E.queries()["rag_topk_retrieval_wand_multi"](spark, SF)
        fb = {tuple(r) for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert (
            "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        ), "ceiling 0 must compile the candidate semi to a shuffled join"
    finally:
        RP.WAND_CAND_BCAST_MAX_ROWS = old
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", prev_thresh
        )
    assert fb == base and len(base) > 0


def test_wand_cand_guard_broadcast_branch_default(spark):
    """At fixture scale the measured candidate count clears the
    default ceiling, so the plan keeps the broadcast semi (the r15
    shape) — no SortMergeJoin anywhere in the WAND key."""
    import __spark_entry__ as E

    df = E.queries()["rag_topk_retrieval_wand_multi"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


# --------------------------------- BM25 scalars as index metadata


def test_bm25_meta_table_is_on_disk_and_consistent(spark):
    """(Σ dl, n_docs) lives in a catalog table beside the state —
    matching a fresh aggregate of the state table — and rebuilding
    the state through _ensure regenerates it (no python-dict memo to
    go stale: r15 VERDICT item 2)."""
    import kafka_parquet_writer_spark.operators.rag_prep as RP

    st_tbl = RP._index_table(spark, SF, "bm25_tfdl_state")
    il_tbl = RP._index_table(spark, SF, "bm25_base_il")
    meta_tbl = RP._index_table(spark, SF, "bm25_meta")
    assert spark.catalog.tableExists(meta_tbl)
    from pyspark.sql import functions as F

    tot, n = (
        spark.table(st_tbl)
        .groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
        .agg(F.sum("dl"), F.count(F.lit(1)))
        .first()
    )
    row = spark.table(meta_tbl).first()
    assert (row["total_dl"], row["n_docs"]) == (int(tot), int(n))
    # the memo dict is gone — staleness now follows the catalog
    assert not hasattr(RP, "_BM25_STATE_SCALARS")
    # rebuild-invalidation: drop all three artifacts, re-ensure, the
    # metadata row is rebuilt from the fresh state
    spark.sql(f"DROP TABLE {st_tbl}")
    spark.sql(f"DROP TABLE {il_tbl}")
    spark.sql(f"DROP TABLE {meta_tbl}")
    RP._index_table(spark, SF, "bm25_base_il")
    row2 = spark.table(meta_tbl).first()
    assert (row2["total_dl"], row2["n_docs"]) == (int(tot), int(n))


# --------------------------------- generational stream index state


def test_stream_index_delta_generational_appends(spark):
    """Every batch appends exactly one generation (affected lists
    only — never a full-index rewrite) and the serve-time resolve
    still reproduces the batch build exactly (the zero-state +
    equality gate lives in test_round15_ops; this pins the LSM
    layout)."""
    import __spark_entry__ as E
    from kafka_parquet_writer_spark.operators import streaming_queries as SQ

    out = E.queries()["stream_index_delta"](spark, SF)
    n = out.count()
    assert n > 0
    # apply_batch appends one generation per call: one per batch
    q = SQ.last_query
    n_batches = sum(p["numInputRows"] > 0 for p in q.recentProgress)
    assert n_batches == SQ.DEDUP_STREAM_BATCHES
    assert SQ._plan_receipt(q)["state_operators"] == []


# --------------------------------- theta sketch blob restructure


def test_theta_sketch_single_audience_aggregation(spark):
    """The sketch blob and the exact set size come out of ONE
    aggregation over the distinct audience; all downstream set
    algebra is per-row array arithmetic on the hour frame — the plan
    carries no SortMergeJoin, no ranking window over the hash stream,
    and at most a handful of exchanges (was 32 in the r15 shape)."""
    import __spark_entry__ as E
    from kafka_parquet_writer_spark.plans.inspect import (
        count_exchanges,
        formatted_plan,
    )

    df = E.queries()["agg_theta_sketch"](spark, SF)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "collect_set" in plan
    assert count_exchanges(df) <= 9
    assert "WindowGroupLimit" not in plan


# --------------------------------- trained-bank shared cache


def test_trained_key_cache_registry_bounded(spark):
    """dedup_embedding_ann_trained shares ONE cached (vec_id, u)
    frame between the Lloyd rounds and the final stats pass; invoking
    the key twice leaves exactly one registered cache entry (the
    predecessor is unpersisted — artifacts.cache_frame)."""
    import __spark_entry__ as E
    from kafka_parquet_writer_spark.artifacts import cached_frames

    key = ("dedup_trained", SF)
    E.queries()["dedup_embedding_ann_trained"](spark, SF).collect()
    assert len(cached_frames(key)) == 1
    first = cached_frames(key)[0]
    E.queries()["dedup_embedding_ann_trained"](spark, SF).collect()
    assert len(cached_frames(key)) == 1
    assert cached_frames(key)[0] is not first
    assert not first.is_cached
