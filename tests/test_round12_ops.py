"""Round-12 regression tests: the r11 ADVICE fixes and the round's
new operators (RAG query-router fan-out, streaming passage windows)."""

import pytest

from pyspark.sql import functions as F


def test_approx_quantile_null_values_do_not_inflate_rank_target(
    spark, tmp_path
):
    """r11 ADVICE low: n counted ROWS (count(1)) while the percentile
    sketches and the lt/le rank sums all ignore NULL values, so a
    null-heavy group's p·n rank target was inflated far beyond the
    attainable rank interval and the gate flipped false on a correct
    sketch answer. 90 NULLs beside 10 values made the p95 target 95
    against a max attainable rank of 10 — reproduced before the
    F.count("value") fix."""
    from kafka_parquet_writer_spark.operators.governance import (
        agg_approx_quantile,
    )

    rows = [("nully", float(i * i)) for i in range(1, 11)]
    rows += [("nully", None)] * 90
    rows += [("clean", float(i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r.event_type: r
        for r in agg_approx_quantile(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"nully", "clean"}
    assert all(r.approx_in_rank_band for r in out.values()), out
    # the exact percentiles also ignore NULLs — p50 of the 10 values
    assert out["nully"].p50_exact == pytest.approx(30.5)


def test_drift_min_support_prefilter_caps_state(spark, tmp_path):
    """The support pre-filter promoted from the state guard's error
    message to a code path (r11 VERDICT item 6): on a decorrelated
    corpus shape (per-epoch disjoint noise vocabulary — the state
    blow-up the guard raises on), min_support=2 must keep only pairs
    clearing the threshold in their epoch, so the below-support noise
    never enters state and never reaches the report, while the heavy
    pair's counts stay EXACT (it clears support in every epoch)."""
    from kafka_parquet_writer_spark.operators.streaming_queries import (
        stream_bpe_vocab_drift,
    )

    docs = [
        (i, "hh hh hh " + " ".join(f"e{i}w{j}" for j in range(10)))
        for i in range(4)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    exact = stream_bpe_vocab_drift(spark, str(tmp_path)).collect()
    # decorrelated noise: 1 shared pair + 4 epochs x 10 unique pairs
    assert len(exact) == 40  # capped at BPE_DRIFT_TOPK, 41 candidates

    filtered = stream_bpe_vocab_drift(
        spark, str(tmp_path), min_support=2
    ).collect()
    assert len(filtered) == 1  # noise pairs (per-epoch count 1) dropped
    row = filtered[0]
    assert (row.a, row.b) == ("hh", "hh")
    # the surviving pair's stats are exact: 2 occurrences x 4 epochs
    assert row.n_total == 8 and row.n_early == 4 and row.n_late == 4
    assert row.drift_milli == 0


def test_drift_rocksdb_state_store_is_provider_invariant(spark, tmp_path):
    """The OTHER hand-off the state guard names is code too: the
    rocksdbjni jar ships with pyspark 4, so state_store='rocksdb'
    runs the exact complete-mode aggregate on the disk-backed
    provider. Results must be identical to the default in-memory
    provider, and the session conf must be restored afterwards."""
    from kafka_parquet_writer_spark.operators.streaming_queries import (
        stream_bpe_vocab_drift,
    )

    provider_conf = "spark.sql.streaming.stateStore.providerClass"

    docs = [
        (i, "hh hh hh " + " ".join(f"e{i}w{j}" for j in range(6)))
        for i in range(4)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    default = {
        tuple(r) for r in stream_bpe_vocab_drift(spark, str(tmp_path)).collect()
    }
    rocks = {
        tuple(r)
        for r in stream_bpe_vocab_drift(
            spark, str(tmp_path), state_store="rocksdb"
        ).collect()
    }
    assert rocks == default and len(default) > 0
    assert spark.conf.get(provider_conf, None) is None  # restored

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown state_store"):
        stream_bpe_vocab_drift(spark, str(tmp_path), state_store="bogus")


def test_stream_passage_windows_incremental_equals_batch(spark):
    """The streaming windower is rag_prep.passage_frame — the same
    function the batch key runs (so the 1..130-token boundary sweep
    covers both) — executed once per micro-batch over the doc_id-
    ranged staging. Stateless map ⇒ the union of per-batch outputs
    must equal the batch result row-for-row."""
    from kafka_parquet_writer_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    batch = {
        tuple(r) for r in QUERIES["rag_passage_windows"](spark, sf).collect()
    }
    stream = {
        tuple(r)
        for r in QUERIES["stream_passage_windows"](spark, sf).collect()
    }
    assert stream == batch
    assert len(batch) > 0
