"""Round-15 regression tests: the materialized-index lifecycle closed
on both legs — BM25 + block-max WAND served from tables, the
cell-bucketed ANN index with append-only maintenance, streaming index
maintenance — plus the per-plan-identity WAND cache registry."""

import pytest

SF = "/root/testdata/sf0.001"


# ------------------------------------------- BM25 from the index


def test_bm25_from_index_matches_corpus_scanning_wand(spark):
    """Materialized BM25 serving must agree row-for-row with the
    corpus-scanning BM25 WAND key (both are oracled against the same
    untruncated SQL; this pins mutual consistency without DuckDB)."""
    import __spark_entry__ as E

    a = E.queries()["rag_bm25_from_index"](spark, SF)
    b = E.queries()["rag_topk_retrieval_wand_bm25"](spark, SF)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bm25_index_tables_bucketed_by_token(spark):
    from kafka_parquet_writer_spark.operators.rag_prep import (
        RAG_INDEX_SHARDS,
        _index_table,
    )
    from kafka_parquet_writer_spark.sources.bucketed import bucket_spec

    post_tbl = _index_table(spark, SF, "bm25_postings")
    il_tbl = _index_table(spark, SF, "bm25_impact_l")
    assert bucket_spec(spark, post_tbl) == (["token"], RAG_INDEX_SHARDS)
    assert bucket_spec(spark, il_tbl) == (["token"], RAG_INDEX_SHARDS)


# ------------------------------------------- block-max WAND from the index


def test_bmw_from_index_matches_query_time_bmw(spark):
    """Serving BMW from the materialized block table must reproduce
    the query-time BMW key exactly (same workload, same oracle)."""
    import __spark_entry__ as E

    a = E.queries()["rag_bmw_from_index"](spark, SF)
    b = E.queries()["rag_topk_retrieval_bmw"](spark, SF)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_blocked_postings_table_carries_blockmax(spark):
    """The blocked table's bmax is per (token, blk) and equals the max
    impact within the block — the skip-list invariant at rest."""
    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.operators.rag_prep import _index_table

    tbl = _index_table(spark, SF, "postings_blk64")
    t = spark.table(tbl)
    bad = (
        t.groupBy("token", "blk")
        .agg(
            F.max("impact").alias("mx"),
            F.max("bmax").alias("b1"),
            F.min("bmax").alias("b2"),
        )
        .filter((F.col("mx") != F.col("b1")) | (F.col("b1") != F.col("b2")))
        .count()
    )
    assert bad == 0
    assert t.count() > 0


# ------------------------------------------- BM25 maintenance (avgdl)


def test_bm25_delta_equals_full_build(spark):
    """Incremental BM25 maintenance ≡ the full materialized build,
    whichever avgdl branch fired (the oracle proves vs DuckDB; this
    pins it against the engine's own full build)."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.operators.rag_prep import _index_table

    inc = E.queries()["rag_bm25_index_delta"](spark, SF)
    il_tbl = _index_table(spark, SF, "bm25_impact_l")
    full = spark.table(il_tbl).select("token", "doc_id", "impact", "pos")
    inc = inc.select("token", "doc_id", "impact", F.col("pos"))
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0


# ------------------------------------------- ANN index lifecycle


def test_ann_index_bucketed_by_cell(spark):
    from kafka_parquet_writer_spark.operators.similarity import (
        ANN_INDEX_BUCKETS,
        _ann_table,
    )
    from kafka_parquet_writer_spark.sources.bucketed import bucket_spec

    tbl = _ann_table(spark, SF, "ann_pq")
    assert bucket_spec(spark, tbl) == (["cell"], ANN_INDEX_BUCKETS)


def test_ann_index_delta_equals_build(spark):
    """base ∪ coded-delta ≡ from-scratch build (also value-oracled;
    this pins engine-internal equality including column types)."""
    import __spark_entry__ as E

    inc = E.queries()["ann_index_delta"](spark, SF)
    full = E.queries()["ann_index_build"](spark, SF)
    assert inc.schema == full.schema
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0


# ------------------------------------------- streaming index maintenance


def test_stream_index_delta_zero_state_all_batches(spark):
    """The streaming maintainer holds ZERO Spark streaming state (all
    state at rest in versioned parquet) and consumes every staged
    micro-batch; its final artifact equals the batch build key."""
    import __spark_entry__ as E
    from kafka_parquet_writer_spark.operators import streaming_queries as SQ

    out = E.queries()["stream_index_delta"](spark, SF)
    rows = {tuple(r) for r in out.collect()}
    q = SQ.last_query
    assert SQ._plan_receipt(q)["state_operators"] == []
    n_batches = sum(p["numInputRows"] > 0 for p in q.recentProgress)
    assert n_batches == SQ.DEDUP_STREAM_BATCHES
    batch = {
        tuple(r)
        for r in E.queries()["rag_index_build"](spark, SF).collect()
    }
    assert rows == batch and len(batch) > 0


# ------------------------------------------- WAND cache registry


def test_wand_cache_registry_keyed_per_plan_identity(spark):
    """r14 ADVICE: building plan B must not evict plan A's cached
    qt/imp pair (Catalyst never shares subplans — evicting imp while
    A is still lazy re-creates the 4x corpus re-scan). Re-invoking
    the SAME identity must still evict its predecessor (bounded)."""
    from kafka_parquet_writer_spark.artifacts import cached_frames
    from kafka_parquet_writer_spark.operators.rag_prep import (
        _derived_multi_qt,
        _wand_plan,
    )

    k_default = ("wand", SF, "tfidf", "default", "corpus")
    k_injected = ("wand", SF, "tfidf", "injected", "corpus")
    _wand_plan(spark, SF)
    assert cached_frames(k_default)
    entry_a = cached_frames(k_default)
    # a DIFFERENT identity registers under its own key and leaves
    # the first entry untouched (same list object, still registered)
    _wand_plan(spark, SF, qt=_derived_multi_qt(spark, SF))
    assert cached_frames(k_injected)
    assert cached_frames(k_default) is entry_a
    # the SAME identity replaces (evicts) its own predecessor only
    entry_b = cached_frames(k_injected)
    _wand_plan(spark, SF, qt=_derived_multi_qt(spark, SF))
    assert cached_frames(k_injected) is not entry_b
    assert cached_frames(k_default) is entry_a


def test_wand_plan_rejects_il_without_imp(spark):
    from kafka_parquet_writer_spark.operators.rag_prep import (
        _index_table,
        _wand_plan,
    )

    il = spark.table(_index_table(spark, SF, "impact_l"))
    with pytest.raises(ValueError, match="il injection"):
        _wand_plan(spark, SF, il=il)


# ------------------------------------------- blocked-postings delta


def test_blocked_delta_equals_build_table(spark):
    """Incremental re-blocking ≡ the from-scratch blocked table —
    including the derived block geometry (pos, blk, bmax)."""
    import __spark_entry__ as E

    from kafka_parquet_writer_spark.operators.rag_prep import _index_table

    inc = E.queries()["rag_blocked_delta"](spark, SF)
    full = spark.table(_index_table(spark, SF, "postings_blk64")).select(
        "token", "doc_id", "impact", "pos", "blk", "bmax"
    )
    inc = inc.select("token", "doc_id", "impact", "pos", "blk", "bmax")
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0
