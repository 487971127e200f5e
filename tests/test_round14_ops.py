"""Round-14 regression tests: the multi-matched-term WAND workload
(candidate-path evidence), block-max WAND's bound properties, and the
materialized retrieval index (build-once, serve-without-corpus)."""

import pytest

SF = "/root/testdata/sf0.001"


# ------------------------------------------- multi-term workload shape
# The r13 verdict's evidence gap: every part-names fixture query
# matches exactly one corpus term, so driver hashes only exercised the
# single-term fast path. The derived workload must route EVERY query
# through the candidate machinery.


@pytest.fixture(scope="module")
def wand_multi_plan(spark):
    from kafka_parquet_writer_spark.operators.rag_prep import (
        _derived_multi_qt,
        _wand_plan,
    )

    return _wand_plan(spark, SF, qt=_derived_multi_qt(spark, SF))


def test_derived_workload_all_queries_multi_term(spark, wand_multi_plan):
    p = wand_multi_plan
    assert p["qt_single"].count() == 0
    n_multi = p["qt_multi"].select("query_id").distinct().count()
    assert n_multi > 0
    # every query contributes exactly its top-2 tokens
    assert p["qt_multi"].count() == 2 * n_multi


def test_candidate_machinery_runs_on_derived_workload(wand_multi_plan):
    p = wand_multi_plan
    ess = p["essential"].count()
    cand = p["cand"].count()
    assert ess > 0, "essential-term selection must actually run"
    assert cand > 0, "candidate generation must actually run"
    # essential ⊆ the multi-term query-term rows
    assert ess <= p["qt_multi"].count()


def test_wand_multi_matches_bmw(spark):
    """Both dynamic-pruning keys answer the same workload against the
    same untruncated oracle — they must agree row-for-row (value
    equality is each key's oracle; this pins mutual consistency
    without DuckDB in the loop)."""
    import __spark_entry__ as E

    a = E.queries()["rag_topk_retrieval_wand_multi"](spark, SF)
    b = E.queries()["rag_topk_retrieval_bmw"](spark, SF)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# ------------------------------------------------------ block-max WAND


def test_bmw_candidates_subset_of_maxscore(spark, wand_multi_plan):
    """Block-max generation admits a posting only under a TIGHTER
    bound than whole-list MaxScore (blockmax ≤ UB), so its candidate
    set is a subset — equality allowed (fixture lists are shallow),
    supersets never."""
    from kafka_parquet_writer_spark.operators.rag_prep import _bmw_cand

    p = wand_multi_plan
    bmw = _bmw_cand(p)
    assert bmw.exceptAll(p["cand"]).count() == 0
    assert bmw.count() > 0


def test_bmw_blockmax_prunes_on_skewed_lists(spark):
    """On a corpus with one DEEP list whose impacts DECAY along it,
    block-max must generate strictly fewer candidates than whole-list
    MaxScore. Synthetic: 'hot' in all 400 docs with tf = 500 − doc
    (impact 2500·tf decays along the impact-ordered list); 'rare' in
    docs 0..29 with tf 20 (flat 666,660). Worked arithmetic: θ =
    1,894,160 (10th truncated score); 'rare' is non-essential
    (UB 666,660 < θ) so it generates no candidates in EITHER scheme;
    'hot' is essential ⇒ MaxScore candidates = all 400 docs. BMW with
    16-entry blocks admits a hot posting only where blockmax ≥
    θ − UB(rare) = 1,227,500 — true for block 0 (bmax 1,250,000),
    false from block 1 on (bmax 1,210,000) ⇒ 16 candidates per query.
    The true top-10 (docs 0..9, scores hot+rare) sits inside block 0,
    so the pruned top-k must still equal the unpruned one."""
    from kafka_parquet_writer_spark.operators import rag_prep as R
    from kafka_parquet_writer_spark.operators.rag_prep import _wand_topk

    rows = []
    for d in range(400):
        words = ["hot"] * (500 - d)
        if d < 30:
            words += ["rare"] * 20
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qt = spark.createDataFrame(
        [(1, "hot"), (1, "rare"), (2, "hot"), (2, "rare")],
        "query_id long, term string",
    )

    import tempfile

    d = tempfile.mkdtemp(prefix="kpws_bmw_skew_")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    # _wand_plan only touches the documents table once qt is injected
    p = R._wand_plan(spark, d, qt=qt)
    ms_cand = p["cand"].count()
    bmw = R._bmw_cand(p, block_b=16)
    bmw_cand = bmw.count()
    assert ms_cand == 2 * 400, ms_cand
    assert bmw_cand == 2 * 16, bmw_cand
    # and the pruned top-k still matches the unpruned answer
    exact = _wand_topk(p)
    pruned = _wand_topk({**p, "cand": bmw})
    assert exact.exceptAll(pruned).count() == 0
    assert pruned.exceptAll(exact).count() == 0


# ------------------------------------------------- materialized index


def test_index_build_matches_truncation_contract(spark):
    """Every token carries at most L postings, positions are dense
    from 1, impacts non-increasing along each list."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from kafka_parquet_writer_spark.operators.rag_prep import RAG_IMPACT_L

    idx = E.queries()["rag_index_build"](spark, SF)
    per = idx.groupBy("token").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
    )
    bad = per.filter(
        (F.col("n") > RAG_IMPACT_L)
        | (F.col("lo") != 1)
        | (F.col("hi") != F.col("n"))
    )
    assert bad.count() == 0


def test_index_table_is_bucketed_on_token(spark):
    from kafka_parquet_writer_spark.operators.rag_prep import (
        RAG_INDEX_SHARDS,
        _index_table,
    )
    from kafka_parquet_writer_spark.sources.bucketed import bucket_spec

    tbl = _index_table(spark, SF, "impact_l")
    spec = bucket_spec(spark, tbl)
    assert spec == (["token"], RAG_INDEX_SHARDS)


# ------------------------------------------ incremental manifest (CDC)


def test_manifest_state_is_bucketed_on_token(spark):
    from kafka_parquet_writer_spark.operators.rag_prep import (
        RAG_INDEX_SHARDS,
        _index_table,
    )
    from kafka_parquet_writer_spark.sources.bucketed import bucket_spec

    t1 = _index_table(spark, SF, "manifest_state")
    assert bucket_spec(spark, t1) == (["token"], RAG_INDEX_SHARDS)


def test_manifest_delta_equals_batch_manifest(spark):
    """Incremental (state + delta merge) must reproduce the batch
    manifest row-for-row — the oracle proves this against DuckDB;
    this pins it engine-internally against rag_shard_manifest."""
    import __spark_entry__ as E

    inc = E.queries()["rag_manifest_delta"](spark, SF)
    batch = E.queries()["rag_shard_manifest"](spark, SF)
    assert inc.exceptAll(batch).count() == 0
    assert batch.exceptAll(inc).count() == 0
    assert batch.count() > 0


def test_index_delta_passthrough_and_rebuild(spark):
    """The fixture's 31-token vocabulary makes EVERY token affected
    (the adversarial extreme — the oracle proves semantics there but
    never exercises the passthrough). Synthetic corpus where token
    'stay' lives only in base docs: its list must pass through from
    the base index BYTE-IDENTICALLY, affected lists must re-rank with
    the delta's df shift, and the union must equal the from-scratch
    full-corpus index."""
    import tempfile

    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.operators import rag_prep as R

    rows = []
    # base docs (doc_id % 5 != 0): 'stay' everywhere, 'move' in some
    for d in range(1, 40):
        if d % R.RAG_CDC_MOD == R.RAG_CDC_RESIDUE:
            continue
        rows.append((d, "stay stay" + (" move" if d % 3 == 0 else "")))
    # delta docs (doc_id % 5 == 0): 'move' only — shifts move's df,
    # never stay's
    for d in range(0, 40, R.RAG_CDC_MOD):
        rows.append((d, "move move move"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="kpws_idxdelta_")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")

    inc = R.rag_index_delta(spark, d)
    full = R.rag_index_build(spark, d)
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0
    # the stay list passed through from the base index verbatim
    base_idx = spark.table(R._index_table(spark, d, "base_impact_l"))
    stay_inc = {tuple(r) for r in inc.filter(F.col("token") == "stay").collect()}
    stay_base = {
        tuple(r) for r in base_idx.filter(F.col("token") == "stay").collect()
    }
    assert stay_inc == stay_base and len(stay_inc) > 0
    # move's lists really were rebuilt: delta docs appear in them
    move_docs = {
        r["doc_id"] for r in inc.filter(F.col("token") == "move").collect()
    }
    assert any(x % R.RAG_CDC_MOD == R.RAG_CDC_RESIDUE for x in move_docs)


def test_wand_from_index_matches_corpus_wand(spark):
    """Materialized-table WAND must reproduce the corpus-scanning WAND
    key row-for-row (both carry the same untruncated oracle; this
    pins mutual consistency engine-internally)."""
    import __spark_entry__ as E

    a = E.queries()["rag_wand_from_index"](spark, SF)
    b = E.queries()["rag_topk_retrieval_wand"](spark, SF)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() > 0
