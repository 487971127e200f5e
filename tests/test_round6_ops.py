"""Metamorphic properties of the round-6 operators — invariants the
DuckDB value oracles do NOT express (they prove engine-equality, not
these)."""

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as E
from kafka_parquet_writer_spark import artifacts
from tests.conftest import SF_ORACLE, SF_SMOKE


def _unit_fixture_vectors(sf_dir, limit=200):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    u = np.vstack(t["embedding"].to_numpy()).astype(np.float64)
    u = u / np.linalg.norm(u, axis=1, keepdims=True)
    return t["vec_id"].to_numpy()[:limit], u[:limit]


def test_imi_shortcut_equals_full_product_enumeration(spark):
    """The top-probe × top-probe combination shortcut must pick the
    SAME probe cells as brute-force enumeration of all m1·m2 product
    cells ordered by (combined score, cell id) — on every fixture
    vector. This is the exactness claim in V.imi_nearest's docstring,
    checked through the IMI keys' assigner against the
    definitionally-correct form."""
    from kafka_parquet_writer_spark.operators.dedup import (
        ANN_DEDUP_PROBE,
        ANN_IMI_SIDE,
        _assign_imi_cells,
        _imi_banks,
    )

    vec_ids, u = _unit_fixture_vectors(SF_ORACLE)
    c1l, c2l = _imi_banks(ANN_IMI_SIDE, ANN_IMI_SIDE)
    c1, c2 = np.asarray(c1l), np.asarray(c2l)

    # production assigner, one Arrow batch so row order is kept
    df = spark.createDataFrame(
        [(int(v), [float(x) for x in r]) for v, r in zip(vec_ids, u)],
        "vec_id long, u array<double>",
    ).coalesce(1)
    got: dict = {}
    for r in _assign_imi_cells(df, ANN_IMI_SIDE, ANN_IMI_SIDE).collect():
        got.setdefault(r["vec_id"], []).append(r["cell"])

    # brute force: all m1*m2 cells, sorted by (s1+s2, cell)
    s1 = -(u[:, :32] @ c1.T)
    s2 = -(u[:, 32:] @ c2.T)
    for k, vid in enumerate(vec_ids):
        full = sorted(
            (s1[k, i] + s2[k, j], i * ANN_IMI_SIDE + j)
            for i in range(ANN_IMI_SIDE)
            for j in range(ANN_IMI_SIDE)
        )
        want = [c for _, c in full[:ANN_DEDUP_PROBE]]
        assert got[int(vid)] == want, vid


def test_imi_product_centroids_unit_norm():
    """Every combined centroid concat(c1_i, c2_j) must have unit norm
    (up to the 6-decimal literal rounding) — the property that makes
    max-dot IMI assignment spherical k-means like the flat bank."""
    from kafka_parquet_writer_spark.operators.dedup import _imi_banks

    c1, c2 = _imi_banks(8, 8)
    n1 = [sum(x * x for x in r) for r in c1]
    n2 = [sum(x * x for x in r) for r in c2]
    for a in n1:
        for b in n2:
            assert abs((a + b) - 1.0) < 1e-4


def test_imi_banks_prefix_stable():
    """Growing either bank must keep the smaller bank as an exact
    prefix (independent seeded streams) — the same growth guarantee
    as the flat bank's _dedup_centroids."""
    from kafka_parquet_writer_spark.operators.dedup import _imi_banks

    c1s, c2s = _imi_banks(4, 6)
    c1b, c2b = _imi_banks(16, 16)
    assert c1b[:4] == c1s
    assert c2b[:6] == c2s


def test_ann_flat_ceiling_hands_off_to_imi(spark, monkeypatch):
    """Past ANN_DEDUP_MAX_LITERAL_CELLS the production key must run
    the two-level path (not raise, not cap): force the ceiling to 1
    so the smoke fixture's m=16 exceeds it, and check the result is a
    valid near-dup pair set of the usual shape."""
    import kafka_parquet_writer_spark.operators.dedup as D

    monkeypatch.setattr(D, "ANN_DEDUP_MAX_LITERAL_CELLS", 1)
    out = D.dedup_embedding_ann(spark, SF_SMOKE)
    rows = out.collect()
    assert out.columns == ["v1", "v2", "cos"]
    for r in rows:
        assert r["v1"] < r["v2"]
        assert r["cos"] >= D.COSINE_DUP_THRESHOLD - 1e-6


def test_containment_positional_filter_lossless(spark):
    """The r6 positional filter must not drop any true containment
    pair: the operator's output at smoke SF equals the unfiltered
    all-pairs containment computed directly (numpy reference)."""
    from kafka_parquet_writer_spark.operators.dedup import (
        CONTAIN_MIN_SHINGLES,
        CONTAIN_T,
        _tid_sets,
    )

    st = _tid_sets(spark, SF_SMOKE).collect()
    sets: dict[int, set] = {}
    for r in st:
        sets.setdefault(r["doc"], set()).add(r["tid"])
    want = set()
    docs = sorted(sets)
    for x in docs:
        for y in docs:
            a, b = sets[x], sets[y]
            if len(a) < len(b) or (len(a) == len(b) and x < y):
                if len(a) >= CONTAIN_MIN_SHINGLES and len(a & b) / len(
                    a
                ) >= CONTAIN_T:
                    want.add((x, y))
    got = {
        (r["d1"], r["d2"])
        for r in E.queries()["dedup_containment"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_span_variable_recovers_exact_match_lengths(spark, tmp_path):
    """A pair sharing one 25-token span and another pair sharing two
    separate spans (15 and 12 tokens) must report exact per-match
    lengths — the capability dedup_span_exact's fixed floor cannot
    express (variable length, per-pair attribution)."""
    from kafka_parquet_writer_spark.operators.llm_prep import (
        dedup_span_variable,
    )

    s25 = " ".join(f"alpha{i}" for i in range(25))
    s15 = " ".join(f"beta{i}" for i in range(15))
    s12 = " ".join(f"gamma{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"unique one two {s25} three four", "en", "w", 0),
            (2, f"{s25} entirely different tail tokens here", "en", "w", 0),
            (3, f"aaa bbb {s15} ccc ddd eee fff ggg {s12} hhh", "en", "w", 0),
            (4, f"xxx {s15} yyy zzz www vvv uuu ttt {s12} sss", "en", "w", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        (r["d1"], r["d2"]): r
        for r in dedup_span_variable(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {(1, 2), (3, 4)}
    assert rows[(1, 2)]["n_matches"] == 1
    assert rows[(1, 2)]["max_len"] == 25
    assert rows[(1, 2)]["sum_len"] == 25
    assert rows[(3, 4)]["n_matches"] == 2
    assert rows[(3, 4)]["max_len"] == 15
    assert rows[(3, 4)]["sum_len"] == 27


def test_bpe_replace_semantics_cross_engine(spark):
    """The merge rewrite's correctness hinges on replace() having
    identical leftmost non-overlapping sequential semantics in Spark
    and DuckDB — including the overlap case ('a a a' under merge
    (a, a) must yield [a a, a], BPE's greedy order) and full-token
    sentinel boundaries ('ab' must not match pair (a, b))."""
    import duckdb
    from pyspark.sql import functions as F

    cases = [
        (["a", "a", "a"], "a", "a", ["a a", "a"]),
        (["a", "a", "a", "a"], "a", "a", ["a a", "a a"]),
        (["ab", "a", "b", "ab"], "a", "b", ["ab", "a b", "ab"]),
        (["x", "a", "b", "a", "b", "y"], "a", "b", ["x", "a b", "a b", "y"]),
        (["b", "a", "b"], "a", "b", ["b", "a b"]),
    ]
    con = duckdb.connect()
    for ws, a, b, want in cases:
        pat, rep = f";{a};;{b};", f";{a} {b};"
        got_spark = (
            spark.createDataFrame([(ws,)], "ws array<string>")
            .select(
                F.split(
                    F.btrim(
                        F.replace(
                            F.concat(
                                F.lit(";"),
                                F.array_join("ws", ";;"),
                                F.lit(";"),
                            ),
                            F.lit(pat),
                            F.lit(rep),
                        ),
                        F.lit(";"),
                    ),
                    ";;",
                ).alias("ws")
            )
            .collect()[0]["ws"]
        )
        lst = "[" + ", ".join(repr(w) for w in ws) + "]"
        got_duck = con.execute(
            f"SELECT str_split(trim(replace(';' || "
            f"array_to_string({lst}, ';;') || ';', '{pat}', '{rep}'), "
            f"';'), ';;')"
        ).fetchone()[0]
        assert got_spark == want, (ws, got_spark)
        assert got_duck == want, (ws, got_duck)


def test_quantile_sketch_accuracy_gate(spark):
    """Sample quantiles must sit within 12 rank-percentage-points of
    their nominal rank against the EXACT distribution (3.9σ for
    K=256) — the accuracy half of the sketch contract; the
    engine-equality half is the driver value oracle."""
    import pyarrow.parquet as pq

    from kafka_parquet_writer_spark.operators.governance import QSK_QS

    rows = E.queries()["agg_quantile_sketch"](spark, SF_ORACLE).collect()
    li = pq.read_table(
        f"{SF_ORACLE}/lineitem.parquet",
        columns=["l_returnflag", "l_extendedprice"],
    ).to_pandas()
    li["vc"] = np.floor(li["l_extendedprice"] * 100 + 0.5).astype("int64")
    assert len(rows) == 3
    for r in rows:
        grp = np.sort(
            li[li["l_returnflag"] == r["l_returnflag"]]["vc"].to_numpy()
        )
        for q in QSK_QS:
            v = r[f"q{q}"]
            rank = np.searchsorted(grp, v, side="right") / len(grp)
            assert abs(rank - q / 100) <= 0.12, (r["l_returnflag"], q, rank)


def test_quantile_sketch_merge_invariance():
    """Bottom-k partials merged by sort+truncate must give the SAME
    sample under any batching of the input — the mergeability claim
    (KMV union) that makes the map-side collapse correct."""
    from kafka_parquet_writer_spark.operators.governance import (
        QSK_K,
        _qsketch_partial,
    )

    rng = np.random.RandomState(7)
    n = 5000
    pdf = pd.DataFrame(
        {
            "flag": rng.choice(["A", "N", "R"], n),
            "h": rng.randint(0, 2**60, n).astype("int64"),
            "vc": rng.randint(0, 10**6, n).astype("int64"),
        }
    )

    def run(chunks):
        part = pd.concat(list(_qsketch_partial(chunks)), ignore_index=True)
        return {
            f: tuple(
                map(
                    tuple,
                    g.sort_values(["h", "vc"]).head(QSK_K)[["h", "vc"]]
                    .to_numpy(),
                )
            )
            for f, g in part.groupby("flag")
        }

    one = run([pdf])
    many = run([pdf.iloc[i : i + 611] for i in range(0, n, 611)])
    shuffled = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    other = run([shuffled.iloc[i : i + 97] for i in range(0, n, 97)])
    assert one == many == other


def test_quantile_sketch_single_shuffle_plan(spark, sf_dir):
    """Map-side collapse gate: the ONLY exchange is the final
    per-group merge — the fact table never shuffles."""
    from kafka_parquet_writer_spark.plans import (
        count_exchanges,
        formatted_plan,
    )

    artifacts.clear(spark)
    df = E.queries()["agg_quantile_sketch"](spark, sf_dir)
    assert count_exchanges(df) == 1
    assert "MapInPandas" in formatted_plan(df)


def test_imi_single_shuffle_plan(spark, sf_dir):
    """The IMI key keeps the flat path's shape: assignment is a
    narrow mapInArrow over the scan; the only exchanges are the
    per-cell verify grouping and the final distinct."""
    from kafka_parquet_writer_spark.plans import (
        count_exchanges,
        formatted_plan,
    )

    artifacts.clear(spark)
    df = E.queries()["dedup_embedding_ann_imi"](spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(df) <= 2
    assert "MapInArrow" in plan and "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_keeps_exactly_min_id_and_labels_everyone(spark):
    """Every vector gets exactly one row; per cell the minimum vec_id
    is ALWAYS kept (it has no lower-id neighbor by construction); a
    dropped vector must have a lower-id same-cell neighbor within the
    ε-ball; and the keep set is deterministic across runs."""
    rows = E.queries()["dedup_semantic"](spark, SF_SMOKE).collect()
    import pyarrow.parquet as pq

    n = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").num_rows
    assert len(rows) == n
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, rs in by_cell.items():
        min_id = min(r["vec_id"] for r in rs)
        for r in rs:
            if r["vec_id"] == min_id:
                assert r["keep"], (cell, min_id)
    again = E.queries()["dedup_semantic"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_dsir_selects_raw_docs_only_in_rank_order(spark):
    """Output is top-100 RAW-pool docs (never the target split),
    strictly rank-ordered by (avg_lift desc, doc_id), with positive
    token counts."""
    from kafka_parquet_writer_spark.operators.llm_prep import (
        DECON_BENCH_MOD,
        DSIR_TOPK,
    )

    rows = E.queries()["mixture_dsir_weights"](spark, SF_ORACLE).collect()
    assert len(rows) == DSIR_TOPK
    for r in rows:
        assert r["doc_id"] % DECON_BENCH_MOD != 0
        assert r["n_tok"] > 0
    keys = [(-r["avg_lift_milli"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


def test_vacuum_removes_old_version_readability(spark, tmp_path):
    """After vacuum(retain=1), time travel to v0 must FAIL (the
    retention contract: old snapshots become unreadable) while the
    live read still works — the half of the contract the value
    oracle's booleans cannot express."""
    
    import pytest as _pytest

    from kafka_parquet_writer_spark.operators.table_queries import (
        _base,
        _bump,
    )
    from kafka_parquet_writer_spark.tablefmt import TxTable

    base = _base(spark, SF_SMOKE)
    t = TxTable(str(tmp_path))
    t.create(base)
    t.merge(spark, _bump(base), keys=["o_orderkey"])
    assert len(t.vacuum(retain_versions=1)) > 0
    assert t.read(spark).count() == base.count()
    with _pytest.raises(Exception):
        t.read(spark, version=0).collect()


def test_ppl_buckets_partition_and_monotone(spark):
    """Every scored doc gets exactly one bucket; all three buckets are
    populated at oracle SF; and the labeling is monotone in score:
    max(tail) <= min(middle)-boundary <= max(middle) <= min(head)
    via the threshold semantics (score<=t1 tail, <=t2 middle)."""
    rows = E.queries()["text_ppl_buckets"](spark, SF_ORACLE).collect()
    assert len(rows) == 500
    by = {}
    for r in rows:
        by.setdefault(r["bucket"], []).append(r["score6"])
    assert set(by) == {"head", "middle", "tail"}
    assert max(by["tail"]) <= min(by["middle"])
    assert max(by["middle"]) <= min(by["head"])


def test_similarity_ann_imi_topk_shape(spark):
    """Each query yields <= TOPK distinct neighbors, never itself, in
    strict (cos desc, n_id) order."""
    from kafka_parquet_writer_spark.operators.similarity import (
        IMI_Q_NQ,
        IMI_Q_TOPK,
    )

    rows = E.queries()["similarity_ann_imi"](spark, SF_ORACLE).collect()
    by_q = {}
    for r in rows:
        assert r["q_id"] != r["n_id"]
        assert r["q_id"] < IMI_Q_NQ
        by_q.setdefault(r["q_id"], []).append((r["cos"], r["n_id"]))
    for q, lst in by_q.items():
        assert len(lst) <= IMI_Q_TOPK
        assert len({n for _, n in lst}) == len(lst)
        assert lst == sorted(lst, key=lambda t: (-t[0], t[1]))


def test_asof_tolerance_contract(spark):
    """Every match is within tolerance; direction labels agree with
    the gap sign reconstruction; and nearest-with-backward-ties holds
    against a pandas merge_asof-style reference built from the raw
    events."""
    import pyarrow.parquet as pq

    from kafka_parquet_writer_spark.operators.relational import (
        ASOF_TOL_US,
    )

    rows = E.queries()["join_asof_tolerance"](spark, SF_ORACLE).collect()
    ev = pq.read_table(
        f"{SF_ORACLE}/events.parquet",
        columns=["event_id", "user_id", "event_type", "ts"],
    ).to_pandas()
    # pandas 2.x materializes parquet TIMESTAMP(NANOS) as
    # datetime64[us]; normalize explicitly so int64 is microseconds
    ev["us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    clicks = ev[ev["event_type"] == "click"]
    purch = ev[ev["event_type"] == "purchase"].set_index("event_id")
    got = {r["purchase_id"]: r for r in rows}
    for pid, p in purch.iterrows():
        cs = clicks[clicks["user_id"] == p["user_id"]]
        best_key, best_ids = None, set()
        for _, c in cs.iterrows():
            gap = abs(int(c["us"]) - int(p["us"]))
            if gap > ASOF_TOL_US:
                continue
            back = int(c["us"]) <= int(p["us"])
            key = (gap, 0 if back else 1)
            if best_key is None or key < best_key:
                best_key, best_ids = key, {int(c["event_id"])}
            elif key == best_key:
                # same gap + direction (same-timestamp clicks): the
                # operator may deterministically pick any of them
                best_ids.add(int(c["event_id"]))
        if best_key is None:
            assert pid not in got, pid
        else:
            assert pid in got, pid
            assert got[pid]["click_id"] in best_ids, pid
            assert got[pid]["gap_us"] == best_key[0], pid


def test_stream_static_enrich_segments_complete(spark):
    """The enrichment must cover every event (all user_ids resolve in
    the dimension) and produce all five TPC-H market segments."""
    rows = E.queries()["stream_static_enrich"](spark, SF_SMOKE).collect()
    import pyarrow.parquet as pq

    n_events = pq.read_table(f"{SF_SMOKE}/events.parquet").num_rows
    assert sum(r["n"] for r in rows) == n_events
    import duckdb

    want = {
        s
        for (s,) in duckdb.connect()
        .execute(
            f"SELECT DISTINCT c.c_mktsegment"
            f" FROM '{SF_SMOKE}/events.parquet' e"
            f" JOIN '{SF_SMOKE}/customer.parquet' c"
            f"   ON c.c_custkey = e.user_id"
        )
        .fetchall()
    }
    assert {r["segment"] for r in rows} == want


def test_asof_tolerance_single_shuffle_no_nlj(spark, sf_dir):
    """Both direction candidates come from windows over ONE user_id
    exchange — never a nested-loop/cartesian time join."""
    from kafka_parquet_writer_spark.plans import (
        count_exchanges,
        formatted_plan,
    )

    artifacts.clear(spark)
    df = E.queries()["join_asof_tolerance"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert count_exchanges(df) == 1
    assert plan.count("Window") >= 2


def test_ppl_buckets_sample_is_mapside(spark, sf_dir):
    """The tercile thresholds must come from the map-side bottom-k
    collapse (MapInPandas before the constant-size aggregate), not a
    global row_number window over every doc score."""
    from kafka_parquet_writer_spark.plans import formatted_plan

    artifacts.clear(spark)
    plan = formatted_plan(E.queries()["text_ppl_buckets"](spark, sf_dir))
    assert "MapInPandas" in plan


def test_scalar_url_components_consistent(spark):
    """Every doc parses; effective port is 443 for https (incl. the
    explicit :443 rows) and 80 for http; the host matches the
    canonicalizer's group structure (doc_id div 4 → same host);
    qp_b is always the numeric param."""
    rows = E.queries()["scalar_url"](spark, SF_SMOKE).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["scheme"] in ("http", "https")
        if r["scheme"] == "https" or r["doc_id"] % 5 == 0:
            assert r["port"] == 443 or (
                r["scheme"] == "http" and r["doc_id"] % 5 != 0
            )
        assert r["host"].startswith("site-")
        assert r["host"].endswith(".example.com")
        assert ":" not in r["host"]
        assert r["path"].startswith("/page/")
        assert r["qp_b"].isdigit()
        assert r["has_fragment"] == (r["doc_id"] % 7 == 0)


def test_basket_band_having_runs_on_aggregate(spark, sf_dir):
    """All reported counts sit inside the band, and the physical plan
    aggregates the fact once with the filter ABOVE the aggregate (no
    second lineitem scan)."""
    from kafka_parquet_writer_spark.operators.tpcds_shapes import (
        BASKET_HI,
        BASKET_LO,
    )
    from kafka_parquet_writer_spark.plans import formatted_plan

    df = E.queries()["basket_count_band"](spark, sf_dir)
    for r in df.collect():
        assert BASKET_LO <= r["cnt"] <= BASKET_HI
    plan = formatted_plan(df)
    # Exactly one lineitem scan: the HAVING band filters the aggregate
    # output and the detail join-back reuses the SAME scanned fact —
    # a second scan would mean the band was re-derived from raw rows.
    scan_lines = [
        ln
        for ln in plan.splitlines()
        if "Scan" in ln and "lineitem" in ln
    ]
    location_refs = plan.count("lineitem.parquet")
    assert len(scan_lines) == 1 or location_refs == 1, plan


def test_novelty_first_doc_gets_full_credit(spark, tmp_path):
    """The first doc in id order owns every gram it introduces
    (novelty 100%); an exact later copy owns none (novelty 0); a
    half-overlapping doc sits strictly between."""
    from kafka_parquet_writer_spark.operators.corpus_prep import (
        text_ngram_novelty,
    )

    base = " ".join(f"tok{i}" for i in range(20))
    fresh = " ".join(f"new{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, base, "en", "w", 0),
            (2, base, "en", "w", 0),
            (3, f"{base} {fresh}", "en", "w", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r
        for r in text_ngram_novelty(spark, str(tmp_path)).collect()
    }
    assert rows[1]["novelty_bp"] == 10000
    assert rows[2]["novelty_bp"] == 0
    assert 0 < rows[3]["novelty_bp"] < 10000


def test_decayed_value_bounds_and_monotonicity(spark):
    """Decayed cents never exceed raw cents, are non-negative, and
    per-user decayed totals equal an independent pandas recomputation
    (shift semantics, age clamp at 62)."""
    import pyarrow.parquet as pq

    from kafka_parquet_writer_spark.operators.analytics import (
        DECAY_REF_DAYS,
    )

    rows = E.queries()["agg_decayed_value"](spark, SF_SMOKE).collect()
    ev = pq.read_table(
        f"{SF_SMOKE}/events.parquet", columns=["user_id", "ts", "value"]
    ).to_pandas()
    ev["d"] = (
        ev["ts"].astype("datetime64[s]").astype("int64") // 86400
    )
    ev["vc"] = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    ev["age"] = np.minimum(DECAY_REF_DAYS - ev["d"], 62)
    ev["dec"] = ev["vc"] // np.left_shift(
        np.int64(1), ev["age"].to_numpy(dtype="int64")
    )
    want = ev.groupby("user_id")["dec"].sum().to_dict()
    for r in rows:
        assert 0 <= r["cents_decayed"] <= r["cents_raw"]
        assert r["cents_decayed"] == want[r["user_id"]], r["user_id"]
