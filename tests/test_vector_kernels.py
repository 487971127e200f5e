"""The numpy vector kernels (functions/vector.py) that every
nearest-cell, PQ-code, ADC and LSH-bucket site runs, and the plan
bound they buy: with the banks in the kernels' closures, no vector
key's optimized plan carries a centroid or codebook literal."""

import numpy as np
import pytest

from kafka_parquet_writer_spark.functions import vector as V
from tests.conftest import SF_ORACLE


def _reference(x, bank, probe, metric):
    """Definitional (score, index) order, one row at a time."""
    if metric == "l2":
        s = ((x[:, None, :] - bank[None, :, :]) ** 2).sum(axis=2)
    else:
        s = -np.einsum("id,jd->ij", x, bank)
    return np.array(
        [sorted(range(len(bank)), key=lambda j: (r[j], j))[:probe] for r in s]
    )


@pytest.mark.parametrize("metric", ["l2", "dot"])
@pytest.mark.parametrize("probe", [1, 3])
def test_nearest_kernels(metric, probe, monkeypatch):
    rng = np.random.RandomState(5)
    x = rng.randn(300, 16)
    bank = rng.randn(40, 16)

    got = V.nearest(x, bank, probe, metric)
    assert got.shape == (300, probe) and got.dtype == np.int64
    assert np.array_equal(got, _reference(x, bank, probe, metric))

    # exact ties: rows j and j + 40 are the same centroid, so each
    # nearest cell comes as the pair (j, j + 40), lower index first
    dup = V.nearest(x, np.vstack([bank, bank]), probe, metric)
    assert np.array_equal(dup[:, 0], got[:, 0])
    if probe > 1:
        assert np.array_equal(dup[:, 1], got[:, 0] + 40)

    # the chunked argpartition branch (large banks) agrees with the
    # sorted branch on tie-free data, across several 256-row chunks
    monkeypatch.setattr(V, "NEAREST_SORT_MAX_CELLS", 8)
    assert np.array_equal(V.nearest(x, bank, probe, metric), got)
    monkeypatch.undo()

    # the IMI shortcut equals brute force over the m1·m2 product bank
    b1, b2 = rng.randn(8, 6), rng.randn(7, 10)
    product = np.array([np.r_[c1, c2] for c1 in b1 for c2 in b2])
    assert np.array_equal(
        V.imi_nearest(x, b1, b2, probe, metric),
        V.nearest(x, product, probe, metric),
    )

    # a zero or NaN norm has no cosine: unit() refuses it
    for bad in (0.0, np.nan):
        with pytest.raises(ValueError, match="zero/NaN-norm"):
            V.unit(np.vstack([x[:2], np.full(16, bad)]))
    assert np.allclose(np.linalg.norm(V.unit(x), axis=1), 1.0)


VECTOR_KEYS = [
    "similarity_topk",
    "similarity_topk_blas",
    "similarity_ann_lsh",
    "similarity_ivf",
    "similarity_ivf_pq",
    "similarity_ann_imi",
    "similarity_rerank_mmr",
    "embedding_pq",
    "ann_index_build",
    "ann_index_delta",
    "dedup_embedding",
    "dedup_embedding_ann",
    "dedup_embedding_ann_imi",
    "dedup_embedding_ann_trained",
    "dedup_semantic",
    "embedding_cluster_kmeans",
    "stream_ann_route",
    "stream_ann_route_pq",
    "stream_ann_index_delta",
]


def test_vector_key_plans_carry_no_bank_literals(spark):
    """Every vector key's optimized logical plan stays under 5 000
    characters at sf0.01 (the literal-tree forms carried 17–70 k)."""
    import __spark_entry__ as E

    qs = E.queries()
    sizes = {
        k: len(qs[k](spark, SF_ORACLE)._jdf.queryExecution().optimizedPlan().toString())
        for k in VECTOR_KEYS
    }
    assert {k: n for k, n in sizes.items() if n >= 5000} == {}
