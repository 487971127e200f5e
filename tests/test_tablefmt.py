"""Transaction-log table format (tablefmt.TxTable): commit atomicity,
file-pruned MERGE, time travel, optimistic concurrency, checkpointed
replay, vacuum retention, and the idempotent streaming sink."""

import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_parquet_writer_spark.tablefmt import (
    ConcurrentWriteError,
    TxTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, ts int")


def _data(t, spark, version=None):
    return sorted(
        (r["k"], r["v"], r["ts"]) for r in t.read(spark, version).collect()
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = TxTable(str(tmp_path / "tx"))
    t.create(_df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))
    return t


def test_create_read_roundtrip(spark, table):
    assert _data(table, spark) == [(1, "a", 1), (2, "b", 1), (3, "c", 1)]
    assert table.latest_version() == 0
    with pytest.raises(FileExistsError):
        table.create(_df(spark, [(9, "z", 9)]))


def test_append_adds_files_without_rewriting(spark, table):
    before = set(table._snapshot()["files"])
    table.append(_df(spark, [(4, "d", 1)]))
    after = table._snapshot()["files"]
    assert before <= set(after)  # original files survive by reference
    assert _data(table, spark)[-1] == (4, "d", 1)


def test_time_travel_and_history(spark, table):
    table.append(_df(spark, [(4, "d", 1)]))
    table.overwrite(_df(spark, [(9, "z", 9)]))
    assert [h["op"] for h in table.history()] == [
        "create", "append", "overwrite",
    ]
    assert len(_data(table, spark, version=0)) == 3
    assert len(_data(table, spark, version=1)) == 4
    assert _data(table, spark) == [(9, "z", 9)]


def test_merge_upserts_and_prunes_files(spark, tmp_path):
    t = TxTable(str(tmp_path / "tx"))
    # two disjoint key-range files: [1..10] and [100..110]
    lo = _df(spark, [(i, "lo", 1) for i in range(1, 11)]).coalesce(1)
    hi = _df(spark, [(i, "hi", 1) for i in range(100, 111)]).coalesce(1)
    t.create(lo)
    t.append(hi)
    snap = t._snapshot()
    lo_files = {
        p for p, a in snap["files"].items() if a["stats"]["k"][0] == 1
    }
    hi_files = set(snap["files"]) - lo_files

    # batch touches only the low range: update k=5, insert k=6½ (=50)
    t.merge(spark, _df(spark, [(5, "UPD", 2), (50, "NEW", 2)]), keys=["k"])
    after = set(t._snapshot()["files"])
    assert hi_files <= after          # untouched range survives by reference
    assert not (lo_files & after)     # overlapping file was rewritten
    d = dict((k, v) for k, v, _ in _data(t, spark))
    assert d[5] == "UPD" and d[50] == "NEW" and d[4] == "lo" and d[100] == "hi"
    assert len(d) == 22


def test_merge_partition_prune_guard_caps_driver_collect(
    spark, tmp_path, monkeypatch
):
    """A batch touching more distinct partitions than
    MERGE_PRUNE_MAX_PARTS must SKIP partition pruning (warning) rather
    than collect an unbounded driver-side tuple list — and the merge
    result must be identical either way (pruning is an optimization,
    never correctness)."""
    import warnings

    import kafka_parquet_writer_spark.tablefmt as TF

    t = TF.TxTable(str(tmp_path / "tx"))
    base = spark.createDataFrame(
        [(i, f"d{i % 2}", "old", 1) for i in range(10)],
        "k int, dt string, v string, ts int",
    )
    t.create(base, partition_by=["dt"])

    monkeypatch.setattr(TF, "MERGE_PRUNE_MAX_PARTS", 3)
    # 5 distinct dt values > cap of 3 → guard trips; k range overlaps
    # the base files so stats pruning alone does not empty `touched`
    upd = spark.createDataFrame(
        [(i, f"d{i}", "new", 2) for i in range(5)],
        "k int, dt string, v string, ts int",
    )
    with pytest.warns(UserWarning, match="skipping partition pruning"):
        t.merge(spark, upd, keys=["k", "dt"], order_col="ts")
    rows = {(r["k"], r["dt"]): r["v"] for r in t.read(spark).collect()}
    # (0,d0) and (1,d1) updated in place; (2,d2)/(3,d3)/(4,d4) inserted
    assert len(rows) == 13
    assert rows[(0, "d0")] == "new" and rows[(2, "d0")] == "old"
    assert rows[(2, "d2")] == "new"

    # under the cap: pruning path active, no warning. Warnings are
    # recorded, not raised: pyspark's collect leaves its result socket
    # to the GC, and a ResourceWarning raised from a finalizer would
    # surface as an unraisable exception instead of failing here
    small = spark.createDataFrame(
        [(0, "d0", "upd", 3)], "k int, dt string, v string, ts int"
    )
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        t.merge(spark, small, keys=["k", "dt"], order_col="ts")
    assert [
        w.message for w in seen if not issubclass(w.category, ResourceWarning)
    ] == []
    rows = {(r["k"], r["dt"]): r["v"] for r in t.read(spark).collect()}
    assert rows[(0, "d0")] == "upd" and len(rows) == 13


def test_merge_order_col_picks_latest(spark, table):
    table.merge(
        spark,
        _df(spark, [(1, "new", 9), (1, "old", 2)]),
        keys=["k"],
        order_col="ts",
    )
    assert dict((k, v) for k, v, _ in _data(table, spark))[1] == "new"


def test_read_where_skips_files(spark, tmp_path):
    t = TxTable(str(tmp_path / "tx"))
    t.create(_df(spark, [(i, "lo", 1) for i in range(1, 11)]).coalesce(1))
    t.append(_df(spark, [(i, "hi", 1) for i in range(100, 111)]).coalesce(1))
    snap = t._snapshot()
    assert len(snap["files"]) == 2
    assert len(t.candidate_files(snap, "k", 1, 10)) == 1  # footer-pruned
    got = t.read_where(spark, "k", 3, 5).collect()
    assert sorted(r["k"] for r in got) == [3, 4, 5]
    assert t.read_where(spark, "k", 1000, 2000).count() == 0


def test_conflicting_op_raises_commuting_op_retries(spark, table):
    # take a snapshot, then let a racing writer claim the next version
    base = table._snapshot()["version"]
    racer = {"add": {"path": "data/racer.parquet", "rows": 0, "bytes": 1,
                     "stats": {}}}
    assert table._try_commit(base + 1, [{"commit": {"op": "append"}}, racer])

    # an overwrite planned against the stale snapshot must refuse
    with pytest.raises(ConcurrentWriteError):
        table._commit("overwrite", [], base_version=base)
    # an append planned against the same stale snapshot commutes: lands
    # at the next free version
    assert table._commit("append", [], base_version=base) == base + 2

    # a commuting op that rewrites a file a racing commit removed must
    # also refuse (compact ∥ merge would resurrect replaced rows)
    victim = next(iter(table._snapshot()["files"]))
    base2 = table._snapshot()["version"]
    assert table._try_commit(
        base2 + 1,
        [{"commit": {"op": "merge"}}, {"remove": {"path": victim}}],
    )
    with pytest.raises(ConcurrentWriteError):
        table._commit(
            "compact", [{"remove": {"path": victim}}], base_version=base2
        )


def test_compact_coalesces_small_files(spark, table):
    for i in range(5):
        table.append(_df(spark, [(10 + i, "x", 1)]).coalesce(1))
    before = table._snapshot()
    v = table.compact(spark)
    after = table._snapshot(v)
    assert len(after["files"]) < len(before["files"])
    assert _data(table, spark) == sorted(
        (r["k"], r["v"], r["ts"]) for r in table.read(spark, 5).collect()
    )


def test_checkpoint_bounds_replay(spark, table):
    for i in range(12):  # cross the CHECKPOINT_EVERY=10 boundary
        table.append(_df(spark, [(100 + i, "x", 1)]))
    ckpts = [
        n for n in os.listdir(table.log_dir) if n.startswith("_checkpoint.")
    ]
    assert ckpts  # a checkpoint was rolled
    assert len(_data(table, spark)) == 3 + 12


def test_vacuum_drops_old_files_keeps_retained(spark, table):
    table.overwrite(_df(spark, [(7, "q", 1)]))
    table.append(_df(spark, [(8, "r", 1)]))
    removed = table.vacuum(retain_versions=2)
    assert removed  # v0's files are unreferenced by v1/v2
    assert _data(table, spark) == [(7, "q", 1), (8, "r", 1)]
    assert len(_data(table, spark, version=1)) == 1  # retained travel works
    with pytest.raises(KeyError):
        table.read(spark, version=0)  # pruned horizon


def test_txn_idempotence_marker(spark, table):
    assert table.last_txn_batch("app") is None
    table.merge(spark, _df(spark, [(1, "x", 5)]), keys=["k"],
                txn={"app": "app", "batch": 3})
    assert table.last_txn_batch("app") == 3
    # empty batch still records the txn
    table.merge(spark, _df(spark, []).limit(0), keys=["k"],
                txn={"app": "app", "batch": 4})
    assert table.last_txn_batch("app") == 4


def test_stats_in_log_are_json(table):
    snap = table._snapshot()
    for add in snap["files"].values():
        json.dumps(add)  # must be serializable
        assert add["rows"] > 0 and add["bytes"] > 0
        assert "k" in add["stats"]


def test_streaming_txlog_upsert(spark, tmp_path):
    """End-to-end: file-source stream → txlog MERGE sink, then verify
    replaying the last batch is a no-op (txn dedup)."""
    from kafka_parquet_writer_spark.streaming.foreach_sink import (
        start_txlog_upsert_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    _df(spark, [(1, "a", 1), (2, "b", 1)]).coalesce(1).write.mode(
        "overwrite"
    ).json(str(src / "batch0"))

    stream = (
        spark.readStream.schema("k int, v string, ts int")
        .json(str(src / "batch0"))
    )
    q = start_txlog_upsert_stream(
        stream,
        str(tmp_path / "tx"),
        keys=["k"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        order_col="ts",
        available_now=True,
    )
    q.awaitTermination(120)
    t = TxTable(str(tmp_path / "tx"))
    assert _data(t, spark) == [(1, "a", 1), (2, "b", 1)]
    last = t.last_txn_batch("txlog-upsert")
    assert last is not None
    v_before = t.latest_version()

    # re-run over the same checkpoint: the replayed batch must no-op
    stream2 = (
        spark.readStream.schema("k int, v string, ts int")
        .json(str(src / "batch0"))
    )
    q2 = start_txlog_upsert_stream(
        stream2,
        str(tmp_path / "tx"),
        keys=["k"],
        checkpoint_dir=str(tmp_path / "ckpt"),  # same checkpoint: no new data
        order_col="ts",
        available_now=True,
    )
    q2.awaitTermination(120)
    assert t.latest_version() == v_before  # nothing recommitted


# ---------------- partitioned layout ----------------


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "dt string, k int, v string")


@pytest.fixture()
def ptable(spark, tmp_path):
    t = TxTable(str(tmp_path / "ptx"))
    t.create(
        _pdf(spark, [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 10, "c"),
                     ("d2", 11, "d")]),
        partition_by=["dt"],
    )
    return t


def test_partitioned_layout_and_roundtrip(spark, ptable):
    snap = ptable._snapshot()
    assert snap["partition_by"] == ["dt"]
    for p, add in snap["files"].items():
        assert "/dt=" in p
        assert add["partition_values"]["dt"] in ("d1", "d2")
    got = sorted(
        (r["dt"], r["k"], r["v"]) for r in ptable.read(spark).collect()
    )
    assert got == [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 10, "c"),
                   ("d2", 11, "d")]


def test_partition_pruning_from_log(spark, ptable):
    snap = ptable._snapshot()
    cand = ptable.partition_candidates(snap, {"dt": "d1"})
    assert cand and len(cand) < len(snap["files"])
    got = ptable.read_partition(spark, {"dt": "d1"}).collect()
    assert sorted(r["k"] for r in got) == [1, 2]


def test_partitioned_merge_prunes_other_partitions(spark, ptable):
    snap = ptable._snapshot()
    d2_files = {
        p for p, a in snap["files"].items()
        if a["partition_values"]["dt"] == "d2"
    }
    # batch touches only d1 — d2 files must survive by reference even
    # though k=1 overlaps d2's stats range conservatively
    ptable.merge(
        spark,
        _pdf(spark, [("d1", 1, "UPD"), ("d1", 3, "NEW")]),
        keys=["dt", "k"],
    )
    after = set(ptable._snapshot()["files"])
    assert d2_files <= after
    got = {(r["dt"], r["k"]): r["v"] for r in ptable.read(spark).collect()}
    assert got[("d1", 1)] == "UPD" and got[("d1", 3)] == "NEW"
    assert got[("d2", 10)] == "c"
    assert len(got) == 5


def test_partitioned_vacuum_cleans_dirs(spark, ptable):
    ptable.overwrite(_pdf(spark, [("d3", 99, "z")]))
    removed = ptable.vacuum(retain_versions=1)
    assert removed
    got = ptable.read(spark).collect()
    assert [(r["dt"], r["k"], r["v"]) for r in got] == [("d3", 99, "z")]
    import os as _os

    livedirs = [
        d for d in _os.listdir(ptable.data_dir)
        if _os.path.isdir(_os.path.join(ptable.data_dir, d))
    ]
    assert livedirs == ["dt=d3"]


def test_streaming_txlog_upsert_partitioned(spark, tmp_path):
    """Streaming MERGE into a PARTITIONED txlog table: partition
    pruning applies per micro-batch (dt is part of the merge key)."""
    from kafka_parquet_writer_spark.streaming.foreach_sink import (
        start_txlog_upsert_stream,
    )

    t = TxTable(str(tmp_path / "ptx"))
    t.create(
        _pdf(spark, [("d1", 1, "old"), ("d2", 10, "keep")]),
        partition_by=["dt"],
    )
    d2_files = {
        p for p, a in t._snapshot()["files"].items()
        if a["partition_values"]["dt"] == "d2"
    }

    src = tmp_path / "src"
    src.mkdir()
    _pdf(spark, [("d1", 1, "upd"), ("d1", 2, "new")]).coalesce(1).write.mode(
        "overwrite"
    ).json(str(src))
    stream = spark.readStream.schema("dt string, k int, v string").json(str(src))
    q = start_txlog_upsert_stream(
        stream,
        str(tmp_path / "ptx"),
        keys=["dt", "k"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    after = set(t._snapshot()["files"])
    assert d2_files <= after  # untouched partition survived by reference
    got = {(r["dt"], r["k"]): r["v"] for r in t.read(spark).collect()}
    assert got == {("d1", 1): "upd", ("d1", 2): "new", ("d2", 10): "keep"}


def test_clustered_compaction_tightens_pruning(spark, tmp_path):
    """Interleaved appends leave every file spanning the whole key
    range (stats pruning useless); compact(cluster_by=) range-sorts so
    files become disjoint and the same read prunes most of them."""
    t = TxTable(str(tmp_path / "tx"))
    # 4 appends, each covering the FULL key space (worst case for stats)
    t.create(_df(spark, [(i, "x", 1) for i in range(0, 100, 4)]).coalesce(1))
    for off in (1, 2, 3):
        t.append(
            _df(spark, [(i + off, "x", 1) for i in range(0, 100, 4)]).coalesce(1)
        )
    snap = t._snapshot()
    assert len(t.candidate_files(snap, "k", 10, 19)) == 4  # nothing prunes

    t.compact(spark, cluster_by=["k"], n_files=4)
    # compaction must preserve content exactly
    assert len(_data(t, spark)) == 100

    snap3 = t._snapshot()
    assert len(snap3["files"]) == 4
    cand = t.candidate_files(snap3, "k", 10, 19)
    assert len(cand) < len(snap3["files"])  # disjoint ranges now prune
    got = t.read_where(spark, "k", 10, 19).collect()
    assert sorted(r["k"] for r in got) == list(range(10, 20))


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """Linear clustering on (x, y) gives the leading column disjoint
    per-file ranges but leaves every file spanning ALL of y; Z-order
    interleaving gives BOTH columns narrow ranges, so the same footer
    stats prune on either dimension — the multi-dimensional data-
    skipping contract of OPTIMIZE ZORDER."""
    rows = [(i, (i * 37) % 1000, (i * 61) % 1000) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")

    lin = TxTable(str(tmp_path / "lin"))
    lin.create(df.coalesce(4), stats_cols=["x", "y"])
    lin.compact(spark, cluster_by=["x", "y"], n_files=16)
    zo = TxTable(str(tmp_path / "zo"))
    zo.create(df.coalesce(4), stats_cols=["x", "y"])
    zo.compact(spark, cluster_by=["x", "y"], n_files=16, zorder=True)

    ls, zs = lin._snapshot(), zo._snapshot()
    assert len(ls["files"]) == 16 and len(zs["files"]) == 16

    # leading dimension: both cluster strategies prune
    assert len(lin.candidate_files(ls, "x", 100, 160)) < 16
    assert len(zo.candidate_files(zs, "x", 100, 160)) < 16
    # non-leading dimension: linear can't prune, Z-order can
    lin_y = len(lin.candidate_files(ls, "y", 100, 160))
    zo_y = len(zo.candidate_files(zs, "y", 100, 160))
    assert lin_y == 16
    assert zo_y < lin_y, (zo_y, lin_y)

    # pruned reads stay exact on both tables
    for t in (lin, zo):
        got = sorted(r["id"] for r in t.read_where(spark, "y", 100, 160).collect())
        want = sorted(i for i, _x, y in rows if 100 <= y <= 160)
        assert got == want


def test_schema_evolution_additive(spark, table):
    wide = spark.createDataFrame(
        [(10, "w", 1, 3.5)], "k int, v string, ts int, score double"
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        table.append(wide)
    v = table.append(wide, merge_schema=True)

    out = {r["k"]: r for r in table.read(spark).collect()}
    assert out[10]["score"] == 3.5
    assert out[1]["score"] is None  # old files: schema-on-read null
    assert len(out) == 4

    # time travel to before the evolution sees the OLD schema
    old = table.read(spark, version=v - 1)
    assert "score" not in old.columns

    # retypes always refused
    bad = spark.createDataFrame([(11, 5, 1)], "k int, v int, ts int")
    with pytest.raises(ValueError, match="additive-only"):
        table.append(bad, merge_schema=True)

    # further normal appends use the evolved schema
    table.append(_df(spark, [(12, "z", 1)]))
    out2 = {r["k"]: r for r in table.read(spark).collect()}
    assert out2[12]["score"] is None


def test_shallow_clone_zero_copy_and_independent(spark, table, tmp_path):
    """clone() copies no data (version-0 references source files by
    absolute path) and the clone evolves independently of the source."""
    import glob

    c = table.clone(str(tmp_path / "clone"))
    assert _data(c, spark) == _data(table, spark)
    assert not glob.glob(os.path.join(c.data_dir, "*.parquet"))  # zero-copy
    assert [h["op"] for h in c.history()] == ["clone"]

    # clone-side writes never touch the source
    src_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(table.data_dir, "**", "*.parquet"),
                           recursive=True)
    }
    c.append(_df(spark, [(9, "z", 2)]))
    c.merge(spark, _df(spark, [(1, "CLONE", 9)]), keys=["k"])
    assert _data(table, spark) == [(1, "a", 1), (2, "b", 1), (3, "c", 1)]
    got = dict((r[0], r[1]) for r in _data(c, spark))
    assert got[1] == "CLONE" and got[9] == "z"
    for p, mt in src_files.items():
        assert os.path.exists(p) and os.path.getmtime(p) == mt

    # clone vacuum must never delete source bytes
    c.overwrite(_df(spark, [(7, "q", 1)]))
    c.vacuum(retain_versions=1)
    for p in src_files:
        assert os.path.exists(p)
    assert _data(table, spark) == [(1, "a", 1), (2, "b", 1), (3, "c", 1)]


def test_clone_partitioned_survives_append_merge_compact(spark, tmp_path):
    """A partitioned shallow clone stays fully usable after local
    writes: its snapshot then mixes files under the SOURCE's data/ root
    and its own, and read/merge/compact must union the per-root reads
    (one basePath per root) rather than reject the state."""
    df = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")],
        "k int, dt string, v string",
    )
    src = TxTable(str(tmp_path / "psrc"))
    src.create(df, partition_by=["dt"])
    c = src.clone(str(tmp_path / "pclone"))
    assert sorted(r["k"] for r in c.read(spark).collect()) == [1, 2, 3]
    # log-level partition pruning works through the clone
    snap = c._snapshot()
    assert len(c.partition_candidates(snap, {"dt": "d1"})) < len(snap["files"])
    # append puts local files next to cloned refs — read unions roots,
    # with partition columns reconstructed per-root
    c.append(
        spark.createDataFrame([(4, "d1", "x")], "k int, dt string, v string")
    )
    got = {(r["k"], r["dt"]) for r in c.read(spark).collect()}
    assert got == {(1, "d1"), (2, "d1"), (3, "d2"), (4, "d1")}
    # merge and compact route through the same mixed-root read
    c.merge(spark, spark.createDataFrame(
        [(2, "d1", "UPD")], "k int, dt string, v string"), keys=["k"])
    vals = {r["k"]: r["v"] for r in c.read(spark).collect()}
    assert vals[2] == "UPD" and vals[4] == "x"
    c.compact(spark, max_file_bytes=1 << 30)
    vals = {r["k"]: r["v"] for r in c.read(spark).collect()}
    assert vals == {1: "a", 2: "UPD", 3: "c", 4: "x"}
    # source untouched throughout
    assert sorted(r["k"] for r in src.read(spark).collect()) == [1, 2, 3]


def test_clone_detects_source_vacuum_dangling_refs(spark, table, tmp_path):
    """The documented shallow-clone hazard must fail LOUDLY: after the
    source overwrites and vacuums past the clone point, the clone's
    absolute references dangle — read() raises with the remedy, never
    returns a partial/empty result."""
    c = table.clone(str(tmp_path / "clone"))
    table.overwrite(_df(spark, [(9, "z", 9)]))
    table.vacuum(retain_versions=1)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        c.read(spark).collect()
    # a compacted clone localized its files before the horizon passed,
    # so the same source vacuum is harmless
    t2 = TxTable(str(tmp_path / "src2"))
    t2.create(_df(spark, [(1, "a", 1)]))
    c2 = t2.clone(str(tmp_path / "clone2"))
    c2.append(_df(spark, [(2, "b", 2)]))  # 2 files so compact rewrites
    c2.compact(spark, max_file_bytes=1 << 30)
    assert not any(
        a.get("abs") for a in c2._snapshot()["files"].values()
    ), "compact must localize cloned references"
    t2.overwrite(_df(spark, [(5, "e", 5)]))
    t2.vacuum(retain_versions=1)
    assert _data(c2, spark) == [(1, "a", 1), (2, "b", 2)]


def test_partitioned_basepath_with_data_ancestor_dir(spark, tmp_path):
    """A table rooted under an ancestor directory itself named data/
    (e.g. /mnt/data/tables/t) must derive basePath from the LAST
    /data/ segment, or Spark parses unrelated intermediate dirs as
    partition values."""
    root = tmp_path / "data" / "tables" / "t"
    df = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b")], "k int, dt string, v string"
    )
    t = TxTable(str(root))
    t.create(df, partition_by=["dt"])
    got = {(r["k"], r["dt"]) for r in t.read(spark).collect()}
    assert got == {(1, "d1"), (2, "d2")}
    pruned = t.read_partition(spark, {"dt": "d2"}).collect()
    assert [(r["k"], r["dt"]) for r in pruned] == [(2, "d2")]
