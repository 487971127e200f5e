"""Round-10 regression tests.

Covers the round-9 VERDICT/ADVICE items:
  - the subsequence family's window-length parameterization (the
    hardcoded `/ 8.0` divisors are gone — proven by running the
    production matcher at L=4 against an independent computation),
  - the power-of-two exactness precondition is now asserted,
  - the in-order-arrival contract of the stateful matcher is pinned by
    a test that DEMONSTRATES the divergence a late event causes
    (documentation-by-test, per the round-9 ADVICE low item).
"""

import math

import numpy as np
import pandas as pd
import pytest

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


def _rows(series, ts_start=1000, eid_start=0):
    return [
        {
            "ts": pd.Timestamp(ts_start + i, unit="s"),
            "event_id": eid_start + i,
            "value": v,
        }
        for i, v in enumerate(series)
    ]


def _run(matcher, key, batches):
    st = FakeState()
    got = []
    for b in batches:
        out = pd.concat(
            list(matcher(key, [pd.DataFrame(b)], st)), ignore_index=True
        )
        got.append(list(zip(out["event_id"], out["d2"])))
    return got, st


def test_subseq_matcher_parameterized_length():
    """The matcher's mean/std divisors derive from `length`, not a
    literal 8.0: at L=4 every emitted distance must equal an
    independent ÷4 z-normalized computation (before the fix, the ÷8
    divisors gave a different — non-z-normalized — metric that this
    test would catch)."""
    L = 4
    q = [-0.57735, 1.732051, -0.57735, -0.57735]
    series = [5.0, 9.0, 2.0, 7.0, 1.0, 8.0, 3.0, 6.0]
    m = make_subseq_matcher(L, q, 1e9)
    got, _ = _run(m, (1,), [_rows(series)])

    vc = np.floor(np.array(series) * 100.0 + 0.5).astype("int64")
    want = []
    for i in range(L - 1, len(vc)):
        w = vc[i - L + 1 : i + 1].astype(float)
        mn = w.sum() / float(L)
        dv = w - mn
        ssq = float((dv * dv).sum())
        if ssq <= 0:
            continue
        sd = math.sqrt(ssq / float(L))
        d2 = 0.0
        for j in range(L):
            z = dv[j] / sd - q[j]
            d2 = d2 + z * z
        want.append((i, math.floor(d2 * 1e6 + 0.5) / 1e6))
    assert got[0] == want
    # sanity: the z-normalization is real — a window that IS the query
    # shape (up to affine transform) must sit at distance ~0
    shape = [1.0, 9.0, 1.0, 1.0]  # z-normalizes exactly to q
    m2 = make_subseq_matcher(L, q, 1e9)
    got2, _ = _run(m2, (1,), [_rows(shape)])
    assert len(got2[0]) == 1 and got2[0][0][1] < 1e-6


def test_subseq_length_power_of_two_asserted():
    """The exactness argument (mean = int-sum ÷ 2^k is an exact
    double) is now a checked precondition, not a comment."""
    with pytest.raises(AssertionError):
        make_subseq_matcher(6, [0.0] * 6, 1e9)
    with pytest.raises(AssertionError):
        make_subseq_matcher(0, [], 1e9)
    # powers of two construct fine
    make_subseq_matcher(16, [0.0] * 16, 1e9)


def test_subseq_matcher_late_data_divergence():
    """PIN the in-order-arrival contract (round-9 ADVICE): a late event
    — tu older than the carried tail — is appended AFTER the tail by
    the matcher, so its windows use a different value order than the
    batch replay. incremental == batch therefore holds for in-order
    arrival only; the declared key runs availableNow (single batch)
    where the contract is exact. This test demonstrates the divergence
    so the limitation is explicit, not latent."""
    L = STREAM_SUBSEQ_L
    series = [5.0, 9.0, 2.0, 7.0, 1.0, 8.0, 3.0, 6.0, 4.0, 2.5]
    rows = _rows(series)
    late = rows[4]  # arrives in batch 2, but its ts precedes the tail

    in_order, _ = _run(
        make_subseq_matcher(L, STREAM_SUBSEQ_Q, 1e9), (1,), [rows]
    )
    batches = [rows[:4] + rows[5:8], [late] + rows[8:]]
    with_late, _ = _run(
        make_subseq_matcher(L, STREAM_SUBSEQ_Q, 1e9), (1,), batches
    )
    flat_late = with_late[0] + with_late[1]
    # the late replay produces a DIFFERENT emission set than the
    # batch-order replay — the documented divergence
    assert flat_late != in_order[0]
    # ...but re-running the same two batches in timestamp order agrees
    # with the single batch (the contract the oracle checks)
    ordered, _ = _run(
        make_subseq_matcher(L, STREAM_SUBSEQ_Q, 1e9),
        (1,),
        [rows[:4], rows[4:]],
    )
    assert ordered[0] + ordered[1] == in_order[0]


def test_batch_subseq_divisor_derives_from_length():
    """Source-level guard on the batch twin: ts_subsequence_topk and
    its oracle must not contain a literal 8.0 divisor (they derive it
    from SUBSEQ_L), and the oracle builder asserts the power-of-two
    precondition."""
    import inspect

    from kafka_parquet_writer_spark.operators import timeseries as TS

    src = inspect.getsource(TS.ts_subsequence_topk)
    assert "8.0" not in src
    assert "float(L)" in src
    osrc = inspect.getsource(TS._subseq_oracle)
    assert "/ 8.0" not in osrc
    assert "L & (L - 1) == 0" in osrc
    # streaming oracle too
    from kafka_parquet_writer_spark.operators import streaming_queries as SQ

    ssrc = inspect.getsource(SQ._stream_subseq_oracle)
    assert "/ 8.0" not in ssrc
    assert "L & (L - 1) == 0" in ssrc


# ------------------------------------- stream_bpe_vocab_drift (new key)

SF_SMALL = "/root/testdata/sf0.001"


def test_stream_bpe_vocab_drift_matches_independent_computation(spark):
    """Third implementation (pure pandas, no Spark, no DuckDB) of the
    drift stats at sf0.001: epoch derivation from doc_id lo/span,
    adjacent-pair counts, early/late split, per-mille drift — the
    streaming key must reproduce it exactly, proving the incremental
    state accumulation equals the batch statistic."""
    import re

    import pyarrow.parquet as pq

    from kafka_parquet_writer_spark.operators import streaming_queries as SQ

    out = SQ.stream_bpe_vocab_drift(spark, SF_SMALL)
    got = [
        (r.a, r.b, r.n_total, r.n_early, r.n_late, r.drift_milli)
        for r in out.collect()
    ]

    t = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet",
        columns=["doc_id", "text"],
    ).to_pandas()
    B = SQ.BPE_DRIFT_EPOCHS
    lo, hi = int(t["doc_id"].min()), int(t["doc_id"].max())
    span = (hi - lo + B) // B
    half = B // 2
    counts: dict = {}
    for doc_id, text in zip(t["doc_id"], t["text"]):
        epoch = (int(doc_id) - lo) // span
        ws = [w for w in re.split(r"\s+", str(text).lower()) if w]
        for x, y in zip(ws, ws[1:]):
            key = (x, y)
            tot, early, late = counts.get(key, (0, 0, 0))
            counts[key] = (
                tot + 1,
                early + (1 if epoch < half else 0),
                late + (1 if epoch >= half else 0),
            )
    rows = [
        (a, b, tot, early, late, late * 1000 // tot - early * 1000 // tot)
        for (a, b), (tot, early, late) in counts.items()
    ]
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    want = rows[: SQ.BPE_DRIFT_TOPK]
    assert got == want
    # invariants: epochs partition the corpus
    assert all(r[2] == r[3] + r[4] for r in got)
    assert all(-1000 <= r[5] <= 1000 for r in got)


# --------------------------------- mixture_temperature_sample (new key)


def test_isqrt_sql_exact_on_boundaries(spark):
    """The portable integer sqrt must be exact at perfect squares and
    their neighbors in BOTH engines (float sqrt's floor can sit one off
    exactly there — the case the CASE correction exists for)."""
    import math

    import duckdb

    from kafka_parquet_writer_spark.operators.llm_prep import _isqrt_sql

    vals = []
    for r in (1, 2, 3, 10, 1000, 94906265, 3037000499):
        sq = r * r
        vals.extend([sq - 1, sq, sq + 1])
    vals.append(2**63 - 1)  # isqrt = 3037000499; +1 probe must not overflow
    vals = [v for v in vals if v >= 0]
    expr = _isqrt_sql("x")
    got_spark = [
        r[0]
        for r in spark.sql(
            "SELECT " + expr + " AS s FROM VALUES "
            + ", ".join(f"({v})" for v in vals)
            + " AS t(x) ORDER BY x"
        ).collect()
    ]
    got_duck = [
        r[0]
        for r in duckdb.sql(
            "SELECT " + expr.replace("BIGINT", "BIGINT") + " AS s FROM ("
            + " UNION ALL ".join(f"SELECT {v}::BIGINT AS x" for v in vals)
            + ") ORDER BY x"
        ).fetchall()
    ]
    want = [math.isqrt(v) for v in sorted(vals)]
    assert got_spark == want
    assert got_duck == want


def test_mixture_temperature_sample_independent(spark):
    """Third implementation of the temperature rates + membership in
    pure python at sf0.001: per-language isqrt shares, budget, rate_bp,
    affine-hash membership — the key must reproduce it exactly, and its
    rates must differ from mixture_sample's (they derive from the data,
    not a hand-picked target)."""
    import math
    import re

    import pyarrow.parquet as pq

    from kafka_parquet_writer_spark.functions.texthash import MERSENNE_P
    from kafka_parquet_writer_spark.operators import llm_prep as LP

    out = LP.mixture_temperature_sample(spark, SF_SMALL)
    got = sorted(
        (r.doc_id, r.lang, r.tok, r.rate_bp) for r in out.collect()
    )

    t = pq.read_table(
        SF_SMALL + "/documents.parquet", columns=["doc_id", "lang", "text"]
    ).to_pandas()
    toks = {
        (int(r.doc_id), r.lang): len(
            [w for w in re.split(r"\s+", str(r.text).lower()) if w]
        )
        for r in t.itertuples()
    }
    tok_l: dict = {}
    for (_, lang), n in toks.items():
        tok_l[lang] = tok_l.get(lang, 0) + n
    T = sum(tok_l.values())
    B = T * LP.TEMP_BUDGET_PCT // 100
    s = {lang: math.isqrt(n) for lang, n in tok_l.items() if n > 0}
    S = sum(s.values())
    rate = {
        lang: min(10000, (10000 * (B * s[lang] // S)) // tok_l[lang])
        for lang in s
    }
    want = sorted(
        (doc_id, lang, n, rate[lang])
        for (doc_id, lang), n in toks.items()
        if (doc_id * LP.TEMP_A + LP.TEMP_B) % MERSENNE_P % 10000
        < rate[lang]
    )
    assert got == want
    assert len(got) > 0
    # the sample is genuinely temperature-shaped: at alpha = 1/2 the
    # keep rate must DECREASE with language size (up to the bp cap)
    langs = sorted(s, key=lambda g: tok_l[g])
    uncapped = [g for g in langs if rate[g] < 10000]
    assert all(
        rate[a] >= rate[b]
        for a, b in zip(uncapped, uncapped[1:])
        if tok_l[a] < tok_l[b]
    )


def test_mixture_temperature_plan_shape(spark):
    """Pin the scale shape: the corpus joins the rate table via
    BROADCAST (the corpus itself never shuffles — only the two
    per-language partial aggregates exchange |langs|-sized rows), and
    the whole pipeline stays JVM-side (no Python eval)."""
    from kafka_parquet_writer_spark.operators import llm_prep as LP

    df = LP.mixture_temperature_sample(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly two row exchanges (the lang aggregates) — a third would
    # mean the corpus or budget grew a new shuffle
    assert plan.count("Exchange hashpartitioning") == 2
