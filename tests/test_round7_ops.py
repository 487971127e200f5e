"""Round-7 coverage: the trained-centroid-bank path for the ANN dedup
family (train_centroid_bank + the ANN_TRAINED_ROUNDS hook), and the
threshold-parameterized cell verifier.

The seeded bank stays the declared-key / oracle geometry; these tests
pin the trainer's contracts — determinism, norm preservation,
empty-cell splitting, and that the flag-on operator still emits only
true (exactly verified) duplicate pairs.
"""

import numpy as np
import pytest

from tests.conftest import SF_ORACLE


def _clustered_frame(spark, n=600, modes=3, sigma=0.05, seed=11):
    """Tiny clustered (vec_id, u) frame: `modes` tight unit modes with
    per-dim noise sigma (intra-mode cosine ≈ 1/(1+64σ²) ≈ 0.86)."""
    rng = np.random.RandomState(seed)
    centers = rng.randn(modes, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        x = centers[i % modes] + sigma * rng.randn(64)
        rows.append((i, [float(v) for v in x / np.linalg.norm(x)]))
    return spark.createDataFrame(rows, "vec_id long, u array<double>")


def test_trainer_deterministic_and_unit_norm(spark):
    from kafka_parquet_writer_spark.operators import dedup as D

    emb = _clustered_frame(spark)
    bank = D._dedup_centroids(16)
    t1 = D.train_centroid_bank(emb, bank, 3)
    t2 = D.train_centroid_bank(emb, bank, 3)
    assert t1 == t2, "same input + same bank must train identically"
    norms = np.linalg.norm(np.asarray(t1), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)
    assert t1 != bank, "3 rounds on clustered data must move the bank"


def test_trainer_splits_hot_cells(spark):
    """On a 3-mode corpus a seeded bank captures members in only a few
    cells; split-reseeding must activate (far) more of the bank and
    shrink the hottest Voronoi cell."""
    from kafka_parquet_writer_spark.operators import dedup as D

    emb = _clustered_frame(spark)

    def pops(bank):
        probes = D._assign_cells(emb, bank, probe=1)
        return {
            r["cell"]: r["count"]
            for r in probes.groupBy("cell").count().collect()
        }

    bank = D._dedup_centroids(16)
    before = pops(bank)
    trained = D.train_centroid_bank(emb, bank, 6)
    after = pops(trained)
    assert len(after) > len(before)
    assert max(after.values()) < max(before.values())
    assert sum(after.values()) == sum(before.values()) == 600


def test_trainer_half_bank_norm_and_width_check(spark):
    from kafka_parquet_writer_spark.operators import dedup as D

    emb = _clustered_frame(spark, n=200)
    c1, _ = D._imi_banks(8, 8)
    trained = D.train_centroid_bank(
        emb, c1, 2, dims=(0, 32), norm=2.0 ** -0.5
    )
    norms = np.linalg.norm(np.asarray(trained), axis=1)
    assert np.allclose(norms, 2.0 ** -0.5, atol=1e-5)
    with pytest.raises(ValueError, match="width"):
        D.train_centroid_bank(emb, c1, 1, dims=(0, 64))


def test_flag_on_ann_pairs_are_exact_subset(spark):
    """With ANN_TRAINED_ROUNDS on, dedup_embedding_ann may bucket
    differently (recall can change) but every emitted pair must still
    be exactly verified — a subset of the exact all-pairs operator."""
    import __spark_entry__ as E
    from kafka_parquet_writer_spark.operators import dedup as D

    qs = E.queries()
    exact = {
        (r["v1"], r["v2"])
        for r in qs["dedup_embedding"](spark, SF_ORACLE).collect()
    }
    old = D.ANN_TRAINED_ROUNDS
    D.ANN_TRAINED_ROUNDS = 2
    try:
        got = {
            (r["v1"], r["v2"])
            for r in qs["dedup_embedding_ann"](spark, SF_ORACLE).collect()
        }
    finally:
        D.ANN_TRAINED_ROUNDS = old
    assert got, "trained-bank run found no pairs at all"
    assert got <= exact


def test_flag_on_imi_handoff_trains_half_banks(spark):
    """Forcing the IMI handoff with ANN_TRAINED_ROUNDS on must train
    BOTH half-banks (norm 1/√2 preserved by the trainer) and still
    emit only exactly-verified pairs."""
    import __spark_entry__ as E
    from kafka_parquet_writer_spark.operators import dedup as D

    qs = E.queries()
    exact = {
        (r["v1"], r["v2"])
        for r in qs["dedup_embedding"](spark, SF_ORACLE).collect()
    }
    old_ceiling = D.ANN_DEDUP_MAX_LITERAL_CELLS
    old_rounds = D.ANN_TRAINED_ROUNDS
    D.ANN_DEDUP_MAX_LITERAL_CELLS = 1
    D.ANN_TRAINED_ROUNDS = 2
    try:
        got = {
            (r["v1"], r["v2"])
            for r in qs["dedup_embedding_ann"](spark, SF_ORACLE).collect()
        }
    finally:
        D.ANN_DEDUP_MAX_LITERAL_CELLS = old_ceiling
        D.ANN_TRAINED_ROUNDS = old_rounds
    assert got, "trained IMI handoff found no pairs at all"
    assert got <= exact


def test_raw_input_form_matches_catalyst_normalize(spark):
    """The large-corpus input form (raw float32 embeddings,
    numpy-side normalization) must produce the same pairs as the
    Catalyst-normalized fixture plan — same (v1, v2) set, cos equal
    to float64-reassociation tolerance."""
    import __spark_entry__ as E
    from kafka_parquet_writer_spark.operators import dedup as D

    qs = E.queries()
    base = {
        (r["v1"], r["v2"]): r["cos"]
        for r in qs["dedup_embedding_ann"](spark, SF_ORACLE).collect()
    }
    old = D.ANN_RAW_INPUT_MIN_ROWS
    D.ANN_RAW_INPUT_MIN_ROWS = 1  # force the raw form at sf0.01
    try:
        got = {
            (r["v1"], r["v2"]): r["cos"]
            for r in qs["dedup_embedding_ann"](spark, SF_ORACLE).collect()
        }
    finally:
        D.ANN_RAW_INPUT_MIN_ROWS = old
    assert set(got) == set(base) and len(got) > 0
    for k, v in got.items():
        assert abs(v - base[k]) <= 1e-6


def test_verifier_threshold_is_closure_carried():
    """_make_verifier(t) must compare against t, not the module
    global — python workers re-import the module, so a global override
    would silently fall back to the default threshold."""
    import pandas as pd

    from kafka_parquet_writer_spark.operators import dedup as D

    u1 = np.zeros(64)
    u1[0] = 1.0
    u2 = np.zeros(64)
    u2[0] = 0.8
    u2[1] = 0.6
    pdf = pd.DataFrame({"vec_id": [1, 2], "u": [u1, u2]})  # cos = 0.8
    assert len(D._make_verifier(0.75)(pdf)) == 1
    assert len(D._make_verifier(0.95)(pdf)) == 0
    # default must equal the module constant's behavior
    assert len(D._make_verifier()(pdf)) == (
        1 if 0.8 >= D.COSINE_DUP_THRESHOLD else 0
    )


def test_normalizing_verifier_matches_prenormalized():
    """_make_verifier(normalize=True) (raw float32 in, float64
    normalize in the verifier) must emit BIT-identical pairs to
    _make_verifier() fed the float64-normalized versions of the same
    float32 sources — the exact claim the raw-input form's
    shuffle-halving rests on."""
    import pandas as pd

    from kafka_parquet_writer_spark.operators import dedup as D

    rng = np.random.RandomState(3)
    center = rng.randn(64)
    raw = [
        (center + 0.05 * rng.randn(64)).astype(np.float32)
        for _ in range(120)
    ]
    ids = list(range(120))
    pdf_raw = pd.DataFrame({"vec_id": ids, "u": raw})
    pre = []
    for x in raw:
        x64 = x.astype(np.float64)
        pre.append(x64 / np.linalg.norm(x64))
    pdf_pre = pd.DataFrame({"vec_id": ids, "u": pre})

    got = {
        (r.v1, r.v2, r.cos)
        for r in D._make_verifier(normalize=True)(pdf_raw).itertuples(
            index=False
        )
    }
    want = {
        (r.v1, r.v2, r.cos)
        for r in D._make_verifier()(pdf_pre).itertuples(index=False)
    }
    assert len(want) > 50  # the cluster genuinely produces pairs
    assert got == want  # bit-identical incl. the rounded cos values


def test_bucket_verifier_matches_per_cell():
    """_make_bucket_verifier must emit exactly the union of
    _make_verifier's per-cell pairs for every cell in the bucket —
    regardless of row order (applyInPandas guarantees group
    completeness, not order), including singleton cells, an empty
    bucket result, and cells of very different sizes."""
    import pandas as pd

    from kafka_parquet_writer_spark.operators import dedup as D

    rng = np.random.RandomState(7)
    # 7 cells of very different sizes, raw float32 vectors (raw_u form)
    sizes = {0: 1, 1: 5, 2: 120, 3: 2, 4: 60, 5: 1, 6: 9}
    rows = []
    vid = 0
    for cell, p in sizes.items():
        center = rng.randn(64)
        for _ in range(p):
            x = (center + 0.05 * rng.randn(64)).astype(np.float32)
            rows.append((vid, x, cell))
            vid += 1
    pdf = pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "u": [r[1] for r in rows],
            "cell": [r[2] for r in rows],
        }
    )
    per_cell = D._make_verifier(normalize=True)
    want = set()
    for cell in sizes:
        out = per_cell(pdf[pdf["cell"] == cell].reset_index(drop=True))
        for r in out.itertuples(index=False):
            want.add((r.v1, r.v2, r.cos))
    assert len(want) > 50  # the clusters genuinely produce pairs

    bucket = D._make_bucket_verifier(normalize=True)
    for seed in (0, 1, 2):  # row orders incl. cell-interleaved
        shuf = pdf.sample(frac=1.0, random_state=seed).reset_index(
            drop=True
        )
        got = {
            (r.v1, r.v2, r.cos)
            for r in bucket(shuf).itertuples(index=False)
        }
        assert got == want, f"row order seed {seed} diverged"
    # pair-free bucket -> empty typed frame, not a crash
    empty = bucket(pdf[pdf["cell"] == 0].reset_index(drop=True))
    assert len(empty) == 0 and list(empty.columns) == ["v1", "v2", "cos"]
