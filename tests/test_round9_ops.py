"""Round-9 additions: the four r8 ADVICE closures.

1 (medium) — the trained key's unpinned-fixture oracle guard was dead
code (error() lived in a chk.ok column nothing consumed; DuckDB's
projection pruning removed it and an unpinned fixture silently returned
0 rows). The guard is now a UNION ALL sentinel branch driven by the
always-one-row fp CTE, so its WHERE is always evaluated.

2 (low) — evidence_audit's diff parser attributed a deleted file's
hunks to the PREVIOUS file. (The git-diff side of evidence_audit has
since been replaced by content fingerprints; its tests went with it.)

3 (low) — bench_scale's _carry_forward kept unknown lanes forever with
no provenance; carried lanes now get a carried_receipts stamp (sf at
first carry, known-lane flag) and unknown lanes warn on stderr.

4 (low) — the trained-bank pin's layout invariance rests on no raw
coordinate sitting on a 6-decimal rounding boundary; the trainer now
reports the minimum boundary margin and gen_trained_pins refuses to
regenerate when it shrinks toward the reassociation-delta scale.
"""

import json
import os
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

SF_ORACLE = "/root/testdata/sf0.01"
SF_UNPINNED = "/root/testdata/sf0.001"


# ------------------------------------------------- 1: load-bearing guard


def _duck_on(sf_dir: str, sql: str):
    import glob

    import duckdb

    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p).removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')"
        )
    return con.execute(sql).fetchall()


def test_trained_oracle_errors_loudly_on_unpinned_fixture(tmp_path):
    """All three shipped fixtures are pinned as of r11 (sf0.001 joined
    in the sf0.001-sweep addendum), so the unpinned case is
    CONSTRUCTED: a copy of the smallest embeddings table minus one row
    changes the content fingerprint, and the oracle must refuse
    loudly, not fall through to a stale bank."""
    import duckdb

    from kafka_parquet_writer_spark.operators.dedup import (
        _ann_trained_oracle,
    )

    src = os.path.join(SF_UNPINNED, "embeddings.parquet")
    dst = tmp_path / "embeddings.parquet"
    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{src}') "
        f"ORDER BY vec_id OFFSET 1) TO '{dst}' (FORMAT PARQUET)"
    )
    sql = _ann_trained_oracle()
    with pytest.raises(Exception, match="gen_trained_pins"):
        _duck_on(str(tmp_path), sql)


def test_trained_oracle_still_green_on_pinned_fixture():
    from kafka_parquet_writer_spark.operators.ann_trained_pins import (
        TRAINED_KEY_M,
    )
    from kafka_parquet_writer_spark.operators.dedup import (
        _ann_trained_oracle,
    )

    rows = _duck_on(SF_ORACLE, _ann_trained_oracle())
    assert len(rows) == TRAINED_KEY_M
    # the sentinel branch contributed nothing on a pinned fixture
    assert all(r[1] is not None for r in rows)


# ------------------------------------------- 3: carry-forward provenance


def test_carry_forward_stamps_provenance_and_warns_on_unknown(
    tmp_path, capsys
):
    from bench_scale import KNOWN_LANES, _carry_forward

    path = tmp_path / "BENCH_SCALE.json"
    prev = {
        "metric": "scale_exponents",
        "sf": "0.1",
        "jaccard_repin": {"min_sec": 3.97},
        "renamed_old_lane": {"stale": True},
    }
    path.write_text(json.dumps(prev))
    result = {"metric": "scale_exponents", "sf": "0.01"}
    _carry_forward(result, str(path))
    meta = result["carried_receipts"]
    assert "jaccard_repin" in KNOWN_LANES
    assert meta["jaccard_repin"] == {"sf": "0.1", "known": True}
    assert meta["renamed_old_lane"] == {"sf": "0.1", "known": False}
    assert "renamed_old_lane" in capsys.readouterr().err

    # second carry at yet another sf: the FIRST-carry sf survives (it is
    # the one closest to the lane's measurement), known-flag re-evaluated
    path.write_text(json.dumps(result))
    result2 = {"metric": "scale_exponents", "sf": "1.0"}
    _carry_forward(result2, str(path))
    assert result2["carried_receipts"]["jaccard_repin"]["sf"] == "0.1"
    assert result2["jaccard_repin"] == {"min_sec": 3.97}


# --------------------------------------------- 4: rounding-boundary pin


def test_trainer_reports_boundary_margin(spark):
    import pandas as pd

    from kafka_parquet_writer_spark.operators import dedup as D

    rng = np.random.RandomState(11)
    v = rng.randn(64, 8)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {"vec_id": range(64), "u": [row.tolist() for row in v]}
    )
    emb = spark.createDataFrame(pdf)
    seed = [row.tolist() for row in v[:4]]
    stats: dict = {}
    D.train_centroid_bank(emb, seed, 2, stats=stats)
    m = stats["min_boundary_margin_1e6"]
    assert 0.0 < m <= 0.5


def test_pinned_banks_regenerated_with_margin_receipt():
    """The committed pins module's stats comments must carry the margin
    field for EVERY pinned fixture, and gen_trained_pins must enforce
    the floor — so the next regeneration cannot silently ship a pin a
    different executor layout could flip."""
    import inspect

    import gen_trained_pins as G
    from kafka_parquet_writer_spark.operators import ann_trained_pins

    src = open(ann_trained_pins.__file__.rstrip("c")).read()
    assert src.count("min_boundary_margin_1e6") == len(G.SF_DIRS)
    assert "min_boundary_margin_1e6" in inspect.getsource(G.main)
    assert "SystemExit" in inspect.getsource(G.main)


# ------------------------------- breadth: text_bpe_vocab / text_bpe_encode


def test_bpe_vocab_carries_merged_symbols(spark):
    """The carry-over must be VISIBLE: after the traced merges, the
    vocabulary holds width>1 symbols whose space-joined form matches a
    traced pair, and their counts are positive."""
    from kafka_parquet_writer_spark.operators import corpus_prep as CP

    trace_df = CP.text_bpe_iterative(spark, SF_ORACLE)
    trace = {(r["a"], r["b"]) for r in trace_df.collect()}
    vocab = CP.text_bpe_vocab(spark, SF_ORACLE).collect()
    merged = {
        tuple(r["tok"].split(" ")): r for r in vocab if r["width"] > 1
    }
    assert merged, "no merged symbol reached the top-K vocabulary"
    # every merged vocab symbol decomposes into base tokens, and at
    # least one is exactly a traced round-winner pair
    assert all(len(k) == r["width"] for k, r in merged.items())
    assert any(k[:2] == p or k == p for p in trace for k in merged)
    assert all(r["n"] > 0 for r in vocab)


def test_bpe_encode_semantics_and_plan(spark):
    """Per-doc counts must be internally consistent (n_base >= n_bpe,
    saved_bp in [0, 10000], n_base == the raw word count), and the
    returned frame's physical plan must be shuffle-free and UDF-free —
    encoding is a pure codegen projection chain over one scan."""
    import pyspark.sql.functions as F
    from kafka_parquet_writer_spark.catalog import load_table
    from kafka_parquet_writer_spark.functions.texthash import words_expr
    from kafka_parquet_writer_spark.operators import corpus_prep as CP

    out = CP.text_bpe_encode(spark, SF_ORACLE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = out.collect()
    docs = load_table(spark, SF_ORACLE, "documents")
    base = {
        r["doc_id"]: r["nb"]
        for r in docs.select(
            "doc_id", F.size(words_expr("text")).alias("nb")
        ).collect()
    }
    assert len(rows) == len(base)
    for r in rows:
        assert r["n_base"] == base[r["doc_id"]]
        assert 0 <= r["n_bpe"] <= r["n_base"]
        assert 0 <= r["saved_bp"] <= 10000
    # the merges actually compressed something corpus-wide
    assert sum(r["n_base"] for r in rows) > sum(r["n_bpe"] for r in rows)


def test_bpe_batched_reduces_to_iterative_at_batch_one(spark):
    """With B=1 the batched trainer IS sequential greedy BPE: the
    windowed selection degenerates to the top-1 pair and the single
    apply is the same corpus rewrite, so the trace must be
    bit-identical to text_bpe_iterative's."""
    from kafka_parquet_writer_spark.operators import corpus_prep as CP

    batched = CP._bpe_batched_train(
        spark, SF_ORACLE, CP.BPE_ROUNDS, 1, CP.BPE_BATCH_WINDOW
    )
    iterative = [
        (r["rnd"], r["a"], r["b"], r["n_ab"])
        for r in CP.text_bpe_iterative(spark, SF_ORACLE).collect()
    ]
    assert [(rnd, a, b, n) for rnd, _slot, a, b, n in batched] == iterative
    assert all(slot == 1 for _, slot, *_ in batched)


def test_bpe_batched_selection_is_greedy_disjoint(spark):
    """Within a round: slots are 1..<=B, symbols are pairwise disjoint
    (that is what makes the one-pass multi-apply order-independent),
    and as-mined counts are non-increasing in slot order (greedy scans
    the (n DESC, a, b) ranking)."""
    from kafka_parquet_writer_spark.operators import corpus_prep as CP

    rows = CP.text_bpe_batched(spark, SF_ORACLE).collect()
    assert {r["rnd"] for r in rows} == set(
        range(1, CP.BPE_BATCH_ROUNDS + 1)
    )
    for rnd in range(1, CP.BPE_BATCH_ROUNDS + 1):
        batch = sorted(
            (r for r in rows if r["rnd"] == rnd), key=lambda r: r["slot"]
        )
        assert [r["slot"] for r in batch] == list(range(1, len(batch) + 1))
        assert len(batch) <= CP.BPE_BATCH_B
        syms: list = []
        for r in batch:
            assert r["a"] not in syms and r["b"] not in syms
            syms += [r["a"], r["b"]]
        ns = [r["n_ab"] for r in batch]
        assert ns == sorted(ns, reverse=True)


# ------------------------------------------------- ts_subsequence_topk


def test_ts_subsequence_topk_matches_numpy_and_plan(spark):
    """Independent third implementation: recompute the full top-K in
    numpy (pandas read -> per-user (tu, event_id) sort -> exact cents
    -> sliding z-norm windows -> floor-rounded distance -> total-order
    top-K) and require EXACT tuple equality with the Spark result.
    Also pins the scale shape: exactly one Exchange (the user_id
    window shuffle — top-K adds none) and no Python-eval nodes."""
    import math

    import pandas as pd
    import pyarrow.parquet as pq

    from kafka_parquet_writer_spark.operators import timeseries as TS

    out = TS.ts_subsequence_topk(spark, SF_ORACLE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = [(r["user_id"], r["event_id"], r["d2"]) for r in out.collect()]

    t = pq.read_table(os.path.join(SF_ORACLE, "events.parquet")).to_pandas()
    t = t[t["value"].notna()].copy()
    # raw parquet carries nanos; integer-divide to the micros the
    # engine compares with (catalog gotcha in the verify skill doc)
    tu = t["ts"].astype("int64") // 1000
    t["tu"] = tu
    t["vc"] = np.floor(t["value"].to_numpy() * 100.0 + 0.5).astype("int64")
    L, q = TS.SUBSEQ_L, np.array(TS.SUBSEQ_Q)
    cands = []
    for uid, g in t.sort_values(["tu", "event_id"]).groupby("user_id"):
        vc = g["vc"].to_numpy()
        eid = g["event_id"].to_numpy()
        for i in range(L - 1, len(vc)):
            w = vc[i - L + 1 : i + 1].astype(float)
            mn = w.sum() / float(L)
            dv = w - mn
            ssq = float((dv * dv).sum())
            if ssq <= 0:
                continue
            sd = math.sqrt(ssq / float(L))
            d2 = float(((dv / sd - q) ** 2).sum())
            d2r = math.floor(d2 * 1e6 + 0.5) / 1e6
            cands.append((d2r, int(uid), int(eid[i])))
    cands.sort()
    want = [(u, e, d) for d, u, e in cands[: TS.SUBSEQ_K]]
    assert got == want


def test_subseq_matcher_cross_batch_tail_carry():
    """Drive the PRODUCTION matcher closure across two 'batches': a
    window STRADDLING the batch boundary must be emitted by the second
    batch (its tail arrived in batch 1), windows fully inside the tail
    must NOT re-emit, and the carried state is exactly the last L-1
    values. A one-batch run over the same rows must produce the
    identical match set (incremental == batch)."""
    import pandas as pd

    from kafka_parquet_writer_spark.operators.streaming_queries import (
        STREAM_SUBSEQ_L,
        STREAM_SUBSEQ_Q,
        make_subseq_matcher,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    # a series that contains the (pre-z-norm) query shape exactly ->
    # one window at distance ~0, plus noise windows far away
    spike = [0.0, 0.0, 1.0, 3.0, 1.0, 0.0, 0.0, 0.0]
    series = [5.0, 9.0, 2.0, 7.0] + spike + [8.0, 1.0]
    rows = [
        {
            "ts": pd.Timestamp(1000 + i, unit="s"),
            "event_id": i,
            "value": v,
        }
        for i, v in enumerate(series)
    ]
    # huge threshold: emit EVERY valid window so the two runs compare
    # complete emission sets, not just the near matches
    m = make_subseq_matcher(STREAM_SUBSEQ_L, STREAM_SUBSEQ_Q, 1e9)

    def run(batches):
        st = FakeState()
        got = []
        for b in batches:
            out = pd.concat(
                list(m((7,), [pd.DataFrame(b)], st)), ignore_index=True
            )
            got.append(
                list(zip(out["event_id"], out["d2"]))
            )
        return got, st

    two, st2 = run([rows[:6], rows[6:]])
    one, st1 = run([rows])
    # batch 1: only one full window (ends at event 5? no - 6 rows < 8)
    assert two[0] == []  # 6 values: no complete length-8 window yet
    # incremental == batch on the union, and no duplicates
    assert two[0] + two[1] == one[0]
    ends = [e for e, _ in one[0]]
    assert ends == sorted(ends) and len(set(ends)) == len(ends)
    # the exact-shape window (ends at event 11) is a ~0-distance match
    d_at_11 = dict(one[0])[11]
    assert d_at_11 < 1e-6
    # carried state is the last L-1 values in cents
    assert st2.get == st1.get
    assert st1.get[0] == [int(v * 100) for v in series[-7:]]
