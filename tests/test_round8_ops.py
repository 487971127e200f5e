"""Round-8 additions: the trained-bank ANN key and its determinism
contract, plus the zero-norm guards (r7 ADVICE)."""

import numpy as np
import pandas as pd
import pytest

from kafka_parquet_writer_spark.operators import dedup as D
from kafka_parquet_writer_spark.operators.ann_trained_pins import PINS

SF_ORACLE = "/root/testdata/sf0.01"


def test_trained_key_reproduces_pinned_bank(spark):
    """The live trainer must reproduce the pinned bank bit-for-bit
    (after its 6-decimal rounding) on the sf0.01 fixture — this is the
    determinism contract the literal oracle rests on: stable argmax,
    index-order np.add.at within a batch, ex_id-sorted partial
    reduction across batches."""
    import tools.gen_trained_pins as G

    fp = G.fingerprint(SF_ORACLE)
    assert fp in PINS, "pins out of date: run tools/gen_trained_pins.py"
    emb = D._unit_vectors(spark, SF_ORACLE)
    seed = D._dedup_centroids(max(D.TRAINED_KEY_M, D.ANN_DEDUP_BANK))[
        : D.TRAINED_KEY_M
    ]
    stats: dict = {}
    bank = D.train_centroid_bank(
        emb, seed, D.TRAINED_KEY_ROUNDS, stats=stats
    )
    assert bank == PINS[fp]
    # the declared geometry must actually exercise the empty-cell SPLIT
    # path (128 cells over 500 vectors leaves empties in round 1) — a
    # geometry where it never fires would ship the split math without
    # driver evidence, which is the whole reason this key exists
    assert sum(stats["splits_per_round"]) > 0
    assert stats["empty_per_round"][0] == stats["splits_per_round"][0]


def test_trained_key_output_shape(spark):
    out = D.dedup_embedding_ann_trained(spark, SF_ORACLE)
    rows = out.collect()
    assert len(rows) == D.TRAINED_KEY_M
    assert out.columns == ["cell", "n_vecs", "sum_vec", "c_sum"]
    n = sum(r["n_vecs"] for r in rows)
    assert n == 500  # every vector assigned exactly once
    assert sum(r["sum_vec"] for r in rows) == 500 * 499 // 2
    # after training + splits, no cell should hold a giant share
    assert max(r["n_vecs"] for r in rows) < 100


def test_trainer_reduce_is_arrival_order_invariant():
    """reduce_cells must produce the identical float sum no matter the
    shuffle arrival order of the per-batch partials (it sorts by the
    batch-unique ex_id before folding)."""
    rng = np.random.RandomState(7)
    parts = [
        {
            "cell": 3,
            "cnt": 5,
            "s": rng.randn(8),
            "ex_id": i * 100 + 1,
            "ex": rng.randn(8),
        }
        for i in range(6)
    ]
    # extract the inner reducer by running one training round on a
    # tiny local frame is heavyweight; instead replicate its contract:
    # sorted-by-ex_id fold == any-permutation fold after the sort
    def reduce_like(rows):
        pdf = pd.DataFrame(rows).sort_values("ex_id", kind="stable")
        return np.vstack(pdf["s"].to_numpy()).sum(axis=0)

    base = reduce_like(parts)
    for seed in range(5):
        perm = list(np.random.RandomState(seed).permutation(len(parts)))
        got = reduce_like([parts[i] for i in perm])
        assert np.array_equal(base, got)


def test_zero_norm_embedding_raises_loudly(spark):
    """r7 ADVICE: the raw-input normalize paths must fail loudly on a
    zero-norm vector, not emit NaN rows whose argsort/argmax semantics
    silently diverge from the Catalyst route (DuckDB sorts NaN greatest,
    numpy comparisons with NaN are False — a hash mismatch masquerading
    as an engine bug)."""
    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2],
            "u": [
                np.zeros(64, dtype=np.float32),
                np.ones(64, dtype=np.float32),
            ],
        }
    )
    verify = D._make_verifier(normalize=True)
    with pytest.raises(ValueError, match="zero/NaN-norm"):
        verify(pdf)
    raw = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [1.0] * 64)], "vec_id long, u array<float>"
    )
    for probes in (
        D._assign_cells(raw, D.DEDUP_CENTROIDS[:16], normalize=True),
        D._assign_imi_cells(raw, 4, 4, normalize=True),
    ):
        with pytest.raises(Exception, match="zero/NaN-norm"):
            probes.collect()


def test_bench_scale_carry_forward_preserves_lane_receipts(tmp_path):
    """r7 ADVICE (medium): re-running the default ladder must never
    delete opt-in lane receipts (experiment keys, imi_ceiling, ...)."""
    import json

    from bench_scale import _carry_forward

    path = tmp_path / "BENCH_SCALE.json"
    prev = {
        "metric": "scale_exponents",
        "timings": {"old": 1},
        "imi_ceiling": {"a": 1},
        "verify_ab_experiment": {"runs": []},
        "probe_rejoin_experiment": {"r": 1},
        "jaccard_repin": {"min_sec": 3.97},
    }
    path.write_text(json.dumps(prev))
    result = {"metric": "scale_exponents", "timings": {"new": 2}}
    _carry_forward(result, str(path))
    # main()'s own keys win; everything else survives verbatim
    assert result["timings"] == {"new": 2}
    for k in (
        "imi_ceiling",
        "verify_ab_experiment",
        "probe_rejoin_experiment",
        "jaccard_repin",
    ):
        assert result[k] == prev[k]


def test_trained_bank_pin_is_layout_invariant(spark):
    """The pinned bank must survive a different partition/batch layout —
    the one environmental variable another session (the driver's) could
    plausibly change. Different partition boundaries regroup the
    per-batch np.add.at partials, changing the float-sum ASSOCIATION;
    the 6-decimal bank rounding must absorb those ~1e-15 deltas (margin
    to the nearest rounding boundary is ~5e-7). Probed across 1/2/8/32
    partitions and a 64-row Arrow batch clamp at build time — pinned
    here at the two layouts most unlike the default."""
    import tools.gen_trained_pins as G

    fp = G.fingerprint(SF_ORACLE)
    seed = D._dedup_centroids(max(D.TRAINED_KEY_M, D.ANN_DEDUP_BANK))[
        : D.TRAINED_KEY_M
    ]
    emb8 = D._unit_vectors(spark, SF_ORACLE).repartition(8, "vec_id")
    assert D.train_centroid_bank(emb8, seed, D.TRAINED_KEY_ROUNDS) == PINS[fp]
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 64)
    try:
        emb = D._unit_vectors(spark, SF_ORACLE)
        assert (
            D.train_centroid_bank(emb, seed, D.TRAINED_KEY_ROUNDS)
            == PINS[fp]
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
