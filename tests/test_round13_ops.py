"""Round-13 regression tests: the r12 ADVICE fixes (wire-type
strictness for the varint family, idempotent support-filter batches)
and the round's new operators."""

import pytest

from kafka_parquet_writer_spark.sources.decoders import (
    _extract,
    parse_wire_format,
)


def _one(data: bytes, fnum: int, ftype):
    return _extract(parse_wire_format(data), fnum, ftype)


# --------------------------------------------------------- ADVICE fix 1
# _want_word accepted _Fixed32/_Fixed64 occurrences for the varint-
# declared family (long/int/boolean), silently decoding another
# message's fixed-width field as its little-endian int — the tier-2
# type table has no fixed64/fixed32 entry to justify acceptance.


@pytest.mark.parametrize("ftype", ["long", "int", "boolean"])
def test_fixed32_occurrence_rejected_for_varint_family(ftype):
    # field 1, wire type I32 (tag 0x0D), 4 bytes LE = 150
    data = bytes.fromhex("0d96000000")
    with pytest.raises(ValueError, match="wire type mismatch"):
        _one(data, 1, ftype)


@pytest.mark.parametrize("ftype", ["long", "int", "boolean"])
def test_fixed64_occurrence_rejected_for_varint_family(ftype):
    # field 1, wire type I64 (tag 0x09), 8 bytes LE = 150
    data = bytes.fromhex("099600000000000000")
    with pytest.raises(ValueError, match="wire type mismatch"):
        _one(data, 1, ftype)


def test_varint_occurrence_still_decodes_for_varint_family():
    # the guard must not over-reject: the spec's Test1 bytes stay valid
    data = bytes.fromhex("089601")
    assert _one(data, 1, "long") == 150
    assert _one(data, 1, "int") == 150
    assert _one(data, 1, "boolean") is True


# --------------------------------------------------------- ADVICE fix 2
# _varints_of flattened _Fixed32/_Fixed64 occurrences as bare varint
# values for array<long>/array<int> (isinstance(v, int) matched the
# tagged subclasses), silently misdecoding unpacked fixed-width
# occurrences in repeated-int fields.


@pytest.mark.parametrize("ftype", ["array<long>", "array<int>"])
def test_fixed_occurrence_in_repeated_varint_field_rejected(ftype):
    # field 6: one legit varint occurrence then an I32 occurrence
    data = bytes.fromhex("3003") + bytes.fromhex("3596000000")
    with pytest.raises(ValueError, match="wire type mismatch"):
        _one(data, 6, ftype)
    # and an I64 occurrence (tag 0x31 = field 6, wire type 1)
    data = bytes.fromhex("3003") + bytes.fromhex("319600000000000000")
    with pytest.raises(ValueError, match="wire type mismatch"):
        _one(data, 6, ftype)


def test_repeated_varint_both_encodings_still_decode():
    # packed + unpacked mix stays accepted (encoding-spec requirement)
    packed = bytes.fromhex("3206038e029ea705")
    unpacked = bytes.fromhex("3003308e02309ea705")
    assert _one(packed, 6, "array<long>") == [3, 270, 86942]
    assert _one(unpacked, 6, "array<long>") == [3, 270, 86942]


def test_fixed_mismatch_lands_in_dlq_not_crash(spark):
    """End-to-end: a fixed-width occurrence on a varint-declared field
    yields the all-null DLQ row through the mapInPandas decoder, while
    well-formed rows beside it decode normally."""
    from kafka_parquet_writer_spark.sources.decoders import (
        encode_wire_format,
        wire_format_decoder,
    )

    good = encode_wire_format({1: 7, 2: "ok"})
    bad = bytes.fromhex("0d96000000") + encode_wire_format({2: "poison"})
    df = spark.createDataFrame([(good,), (bad,)], "value binary")
    decoder = wire_format_decoder({"n": (1, "long"), "s": (2, "string")})
    rows = {(r.n, r.s) for r in decoder(df).collect()}
    assert rows == {(7, "ok"), (None, None)}


# --------------------------------------------------------- ADVICE fix 3
# _run_support_filtered appended to a shared parquet dir without using
# the batch id, so a retried micro-batch double-counted, and an
# all-filtered run left a schemaless directory.


def test_support_fold_batch_retry_is_idempotent(spark, tmp_path):
    from kafka_parquet_writer_spark.operators.streaming_queries import (
        _fold_support_batch,
        _read_support_accumulator,
    )

    acc = str(tmp_path / "acc")
    (tmp_path / "acc").mkdir()
    batch = spark.createDataFrame(
        [(0, "a", "b")] * 3 + [(0, "x", "y")],
        "epoch long, a string, b string",
    )
    _fold_support_batch(batch, 0, acc, min_support=2)
    # the engine retries batch 0 after a sink failure: same id, same
    # data — the overwrite must REPLACE, not append a second copy
    _fold_support_batch(batch, 0, acc, min_support=2)
    out = _read_support_accumulator(spark, acc).collect()
    assert len(out) == 1
    assert (out[0].epoch, out[0].a, out[0].b, out[0].n) == (0, "a", "b", 3)


def test_support_accumulator_all_filtered_is_typed_empty(spark, tmp_path):
    from kafka_parquet_writer_spark.operators.streaming_queries import (
        _SUPPORT_STATE_SCHEMA,
        _fold_support_batch,
        _read_support_accumulator,
    )

    # zero batches ever written
    empty_acc = str(tmp_path / "never")
    (tmp_path / "never").mkdir()
    out = _read_support_accumulator(spark, empty_acc)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["epoch", "a", "b", "n"]

    # batches written but every pair below support
    acc = str(tmp_path / "filtered")
    (tmp_path / "filtered").mkdir()
    batch = spark.createDataFrame(
        [(0, "a", "b")], "epoch long, a string, b string"
    )
    _fold_support_batch(batch, 0, acc, min_support=99)
    out2 = _read_support_accumulator(spark, acc)
    assert out2.count() == 0
    assert out2.schema == spark.createDataFrame(
        [], _SUPPORT_STATE_SCHEMA
    ).schema


# ----------------------------------------------------- new r13 operators


def test_stream_query_router_incremental_equals_batch(spark):
    """The router moved to serving time: queries arrive in p_partkey-
    ranged micro-batches and are routed per batch against the static
    broadcast manifest. Each query_id lives in exactly one micro-batch,
    so the per-query rollup over the union of batches must equal the
    batch router row-for-row."""
    from kafka_parquet_writer_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    sf = "/root/testdata/sf0.001"
    batch = {
        tuple(r) for r in QUERIES["rag_query_router"](spark, sf).collect()
    }
    stream = {
        tuple(r) for r in QUERIES["stream_query_router"](spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0


def test_stream_query_router_zero_state_broadcast_manifest(spark):
    """The in-stream stage must be a stateless stream-static BROADCAST
    join — zero streaming state (empty stateOperators in the finished
    query's progress; no StateStore node in the executed micro-batch
    plan) and never a shuffle join sized by the query workload."""
    from kafka_parquet_writer_spark.operators import streaming_queries as SQ

    SQ.stream_query_router(spark, "/root/testdata/sf0.001").collect()
    receipt = SQ._plan_receipt(SQ.last_query)
    assert receipt["state_operators"] == []
    plan = receipt["plan"]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "StateStore" not in plan


def _exhaustive_topk(p):
    """Inline exhaustive tf-idf top-k from a _wand_plan's imp/qt (the
    untruncated answer WAND must reproduce exactly)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kafka_parquet_writer_spark.operators.rag_prep import RAG_TOPK

    ex_sc = (
        p["imp"]
        .join(F.broadcast(p["qt"]), F.col("token") == F.col("term"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact").cast("long").alias("score"))
    )
    topk = (
        ex_sc.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("score").desc(), F.col("doc_id")
                )
            ),
        )
        .filter(F.col("rnk") <= RAG_TOPK)
        .select(
            "query_id",
            "doc_id",
            "score",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
    return ex_sc, topk


def test_wand_is_safe_on_the_fixture(spark):
    """MaxScore/WAND must return EXACTLY the exhaustive tf-idf top-k
    (safe-up-to-k pruning — the oracle also proves this against
    DuckDB; here against an inline exhaustive Spark plan so the
    property is pinned without the driver). NOTE: on this fixture the
    query workload matches a SINGLE document token, and MaxScore can
    never prune a one-term query (its only term is always essential)
    — the shrink property is tested on the skewed fixture below."""
    from kafka_parquet_writer_spark.operators.rag_prep import (
        _wand_plan,
        rag_topk_retrieval_wand,
    )

    sf = "/root/testdata/sf0.001"
    p = _wand_plan(spark, sf)
    _, ex_topk_df = _exhaustive_topk(p)
    ex_topk = {tuple(r) for r in ex_topk_df.collect()}
    wand = {
        tuple(r) for r in rag_topk_retrieval_wand(spark, sf).collect()
    }
    assert wand == ex_topk and len(wand) > 0


def test_wand_pruning_binds_on_skewed_df(spark, tmp_path):
    """The receipt that the pruning PRUNES, on the workload shape it
    exists for: multi-term queries mixing a stopword-like high-df /
    low-impact term with rare high-impact terms. The stopword's UB
    falls below θ_q (the k-th best truncated score), so it lands in
    the non-essential prefix and documents matching ONLY it are never
    candidates — while the answer stays exactly exhaustive."""
    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.operators.rag_prep import (
        _wand_plan,
        rag_topk_retrieval_wand,
    )

    # 200 docs, all contain stopword "zz" once (df 200 -> impact
    # 5000); the first 150 also carry one of rare0..rare9 with tf 3
    # (df 15 -> impact 3*(1e6 div 15) = 199998). Each query matches
    # 30 rare docs, so its 10th-best truncated score is >= 199998,
    # far above UB(zz) — zz MUST land in the non-essential prefix
    # (the split is strict: ties with theta stay essential, because a
    # doc scoring exactly theta can still win its rank on the doc_id
    # tie-break).
    docs = []
    for d in range(200):
        words = ["zz"]
        if d < 150:
            words += [f"rare{d % 10}"] * 3
        docs.append((d, " ".join(words + ["filler%d" % (d % 5)])))
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    # 20 queries: stopword + two rare terms each
    qs = [
        (q, f"zz rare{q % 10} rare{(q + 1) % 10}") for q in range(1, 21)
    ]
    spark.createDataFrame(qs, "p_partkey long, p_name string").write.parquet(
        str(tmp_path / "part.parquet")
    )

    sf = str(tmp_path)
    p = _wand_plan(spark, sf)
    ex_sc, ex_topk_df = _exhaustive_topk(p)
    ex_topk = {tuple(r) for r in ex_topk_df.collect()}
    wand = {
        tuple(r) for r in rag_topk_retrieval_wand(spark, sf).collect()
    }
    assert wand == ex_topk and len(wand) > 0

    # the stopword is non-essential somewhere -> fewer essential
    # (query, term) rows than query-term rows, and the candidate set
    # is strictly smaller than the exhaustive (query, doc) fan-out
    n_qterms = p["qt"].count()
    n_essential = p["essential"].count()
    assert n_essential < n_qterms, (n_essential, n_qterms)
    n_cand = p["cand"].count()
    n_exhaustive_pairs = ex_sc.count()
    assert n_cand < n_exhaustive_pairs, (n_cand, n_exhaustive_pairs)


def test_bm25_saturation_and_length_normalization(spark, tmp_path):
    """The two properties BM25 exists for, pinned against raw tf·idf
    behavior: (a) SATURATION — doubling an already-high tf barely
    moves the score (k1 bound: impact < idf·(k1+1) = idf·88/40),
    while raw tf·idf doubles; (b) LENGTH NORMALIZATION — same tf in a
    much longer document scores LOWER."""
    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.operators.rag_prep import (
        rag_topk_retrieval_bm25,
    )

    # doc 0: tf(hot)=2, short. doc 1: tf=20, same length class.
    # doc 2: tf(hot)=2 but 10x longer. filler words are unique per
    # doc so df(hot)=3 and nothing else matches the query.
    docs = [
        (0, "hot hot " + " ".join(f"a{i}" for i in range(8))),
        (1, " ".join(["hot"] * 20) + " " + " ".join(f"b{i}" for i in range(8))),
        (2, "hot hot " + " ".join(f"c{i}" for i in range(98))),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    spark.createDataFrame(
        [(1, "hot")], "p_partkey long, p_name string"
    ).write.parquet(str(tmp_path / "part.parquet"))

    out = {
        r.doc_id: r.score
        for r in rag_topk_retrieval_bm25(spark, str(tmp_path)).collect()
    }
    assert set(out) == {0, 1, 2}
    idf = 1_000_000 // 3
    # saturation: 10x the tf gains less than 2x the score, and stays
    # under the k1+1 asymptote
    assert out[1] < 2 * out[0]
    assert out[1] < idf * 88 // 40
    # length normalization: same tf, 10x length -> strictly lower
    assert out[2] < out[0]


def test_wand_bm25_safe_and_prunes_on_skewed_df(spark, tmp_path):
    """MaxScore is scorer-agnostic: under BM25 impacts the pruned
    top-k must equal the exhaustive BM25 top-k, and on the skewed
    fixture the saturation-capped stopword UB must fall in the
    non-essential prefix (pruning binds)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kafka_parquet_writer_spark.operators.rag_prep import (
        RAG_TOPK,
        _wand_plan,
        rag_topk_retrieval_wand_bm25,
    )

    docs = []
    for d in range(200):
        words = ["zz"]
        if d < 150:
            words += [f"rare{d % 10}"] * 3
        docs.append((d, " ".join(words + ["filler%d" % (d % 5)])))
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    qs = [
        (q, f"zz rare{q % 10} rare{(q + 1) % 10}") for q in range(1, 21)
    ]
    spark.createDataFrame(qs, "p_partkey long, p_name string").write.parquet(
        str(tmp_path / "part.parquet")
    )

    sf = str(tmp_path)
    p = _wand_plan(spark, sf, scorer="bm25")
    ex_sc = (
        p["imp"]
        .join(F.broadcast(p["qt"]), F.col("token") == F.col("term"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact").cast("long").alias("score"))
    )
    ex_topk = {
        tuple(r)
        for r in ex_sc.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("score").desc(), F.col("doc_id")
                )
            ),
        )
        .filter(F.col("rnk") <= RAG_TOPK)
        .select(
            "query_id",
            "doc_id",
            "score",
            F.col("rnk").cast("long").alias("rnk"),
        )
        .collect()
    }
    wand = {
        tuple(r)
        for r in rag_topk_retrieval_wand_bm25(spark, sf).collect()
    }
    assert wand == ex_topk and len(wand) > 0
    assert p["essential"].count() < p["qt"].count()
    assert p["cand"].count() < ex_sc.count()
