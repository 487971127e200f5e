"""The fork-free ``file:`` filesystem (``jvm/ForkFreeLocal.java``):
streaming checkpoints, state stores and sinks start no ``chmod`` or
``readlink`` process, and the filesystem keeps the stock contract
(permission bits, checksum files, rename, symlinks)."""

import importlib.util
import json
import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest

from kafka_parquet_writer_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the shell commands a local Hadoop filesystem without its native
#: library starts for permissions, links and file status
SHELL_FS_COMMANDS = ("chmod", "readlink", "ls", "stat")

#: runs one small ``ingest_once`` drain and one ``stream_dedup`` with a
#: logging wrapper first on ``PATH`` for each shell command above, and
#: prints what the wrappers saw after the session had started, the mode
#: bits of what the drain wrote and the filesystem classes in use
_CHILD = textwrap.dedent(
    """
    import datetime as dt, json, os, sys
    sys.path.insert(0, {repo!r})
    import pyarrow as pa, pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType
    from kafka_parquet_writer_spark import session
    from kafka_parquet_writer_spark.operators.streaming_queries import stream_dedup
    from kafka_parquet_writer_spark.streaming.ingest import IngestConfig, ingest_once

    sf_dir, work, mode = sys.argv[1:]
    if mode == "stock":
        session._fork_free_fs_conf = lambda: {{}}
    spark = session.get_spark(
        "forks", cpus=2, shuffle_partitions=2,
        extra_conf={{"spark.driver.extraClassPath": os.path.join(work, "extra")}},
    )
    src = os.path.join(work, "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 17, 5, tzinfo=dt.timezone.utc)
    ts = [t0 + dt.timedelta(days=i % 3) for i in range(300)]
    pq.write_table(
        pa.table({{"ts": pa.array(ts, pa.timestamp("us", "UTC")), "v": list(range(300))}}),
        os.path.join(src, "part-0.parquet"),
    )
    log = os.environ["FORK_LOG"]
    open(log, "w").close()
    ingest_once(spark, IngestConfig(
        target_dir=os.path.join(work, "out"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        source_path=src,
        source_schema=StructType(
            [StructField("ts", TimestampType()), StructField("v", LongType())]
        ),
        trigger_seconds=None,
        partition_time_column="ts",
    ))
    assert stream_dedup(spark, sf_dir).count() > 0
    with open(log) as f:
        forks = f.read().splitlines()
    modes = sorted(
        [os.path.relpath(d, work), "dir" if is_dir else "crc" if name.endswith(".crc") else "file",
         oct(os.stat(os.path.join(d, name)).st_mode & 0o7777)]
        for top in ("out", "ckpt")
        for d, dirs, files in os.walk(os.path.join(work, top))
        for is_dir, names in ((True, dirs), (False, files))
        for name in names
    )
    jvm, hconf = spark._jvm, spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path("file:///")
    print("RESULT", json.dumps({{
        "forks": forks,
        "modes": sorted(set(map(tuple, modes))),
        "class_path": spark.sparkContext.getConf().get("spark.driver.extraClassPath", ""),
        "fs": root.getFileSystem(hconf).getClass().getName(),
        "fc": jvm.org.apache.hadoop.fs.FileContext.getFileContext(root.toUri(), hconf)
            .getDefaultFileSystem().getClass().getName(),
    }}))
    spark.stop()
    """
)


def _wrappers(bin_dir):
    """A logging wrapper for each shell command, which runs the real one."""
    bin_dir.mkdir()
    for name in SHELL_FS_COMMANDS:
        real = shutil.which(name)
        path = bin_dir / name
        path.write_text(f'#!/bin/sh\necho "{name} $*" >> "$FORK_LOG"\nexec {real} "$@"\n')
        path.chmod(0o755)


def _run_child(sf_dir, tmp_path, bin_dir, mode):
    work = tmp_path / mode
    work.mkdir()
    env = dict(
        os.environ,
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        FORK_LOG=str(work / "forks.log"),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO), sf_dir, str(work), mode],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    results = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert results, out.stderr[-3000:]
    return json.loads(results[-1][len("RESULT ") :]), work


@pytest.fixture(scope="module")
def drains(sf_dir, tmp_path_factory):
    """The child run with the fork-free filesystem and with the stock one."""
    tmp = tmp_path_factory.mktemp("forks")
    _wrappers(tmp / "bin")
    return {mode: _run_child(sf_dir, tmp, tmp / "bin", mode) for mode in ("shim", "stock")}


def test_drain_and_stateful_stream_start_no_file_system_process(drains):
    shim, _ = drains["shim"]
    assert shim["fs"] == "kpws.fs.ForkFreeLocal$Local"
    assert shim["fc"] == "kpws.fs.ForkFreeLocal$LocalFs"
    assert shim["forks"] == []


def test_stock_file_system_forks_so_the_check_can_see_them(drains):
    stock, _ = drains["stock"]
    assert stock["fs"] != "kpws.fs.ForkFreeLocal$Local"
    assert any(line.startswith("chmod ") for line in stock["forks"]), stock["forks"]


def test_drain_output_has_the_stock_mode_bits_and_checksums(drains):
    shim, work = drains["shim"]
    stock, _ = drains["stock"]
    assert shim["modes"] == stock["modes"]
    # checksums of the sink's data files and of the checkpoint's logs
    crc_dirs = {d.split(os.sep)[0] for d, kind, _ in shim["modes"] if kind == "crc"}
    assert crc_dirs == {"out", "ckpt"}, shim["modes"]
    assert os.path.isfile(work / "ckpt" / "offsets" / ".0.crc")
    assert os.path.isfile(work / "ckpt" / "commits" / ".0.crc")


def test_caller_class_path_keeps_the_shim_jar(drains):
    shim, work = drains["shim"]
    assert shim["class_path"].split(os.pathsep) == [session._FS_JAR, str(work / "extra")]


def _fs(spark):
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path("file:///")
    fs = root.getFileSystem(hconf)
    assert fs.getRaw().getClass().getName() == "kpws.fs.ForkFreeLocal$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(root.toUri(), hconf)
    return jvm, fs, fc


def _perm(jvm, user, group, other, sticky=False):
    act = jvm.org.apache.hadoop.fs.permission.FsAction
    return jvm.org.apache.hadoop.fs.permission.FsPermission(
        getattr(act, user), getattr(act, group), getattr(act, other), sticky
    )


def test_permission_bits_match_the_stock_file_system(spark, tmp_path):
    """``setPermission`` and ``mkdirs`` leave the bits the stock
    ``LocalFileSystem`` leaves: a sticky mode goes through the stock
    method and keeps its sticky bit, and ``mkdirs`` drops it in both
    (Hadoop applies the umask with a sticky-less ``FsPermission``)."""
    jvm, fs, _ = _fs(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    perms = {
        "0640": _perm(jvm, "READ_WRITE", "READ", "NONE"),
        "1755": _perm(jvm, "ALL", "READ_EXECUTE", "READ_EXECUTE", sticky=True),
    }
    modes = {}
    for name, api in (("shim", fs), ("stock", stock)):
        for mode, perm in perms.items():
            d, f = tmp_path / f"{name}{mode}", tmp_path / f"{name}{mode}.f"
            assert api.mkdirs(Path(str(d)), perm)
            f.write_text("x")
            api.setPermission(Path(str(f)), perm)
            modes[name, mode] = [stat.S_IMODE(os.stat(p).st_mode) for p in (d, f)]
    assert modes["shim", "0640"] == modes["stock", "0640"] == [0o640, 0o640]
    assert modes["shim", "1755"] == modes["stock", "1755"] == [0o755, 0o1755]


def test_rename_onto_an_existing_file_returns_false(spark, tmp_path):
    jvm, fs, _ = _fs(spark)
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.write_text("new")
    dst.write_text("old")
    Path = jvm.org.apache.hadoop.fs.Path
    assert not fs.rename(Path(str(src)), Path(str(dst)))
    assert (src.read_text(), dst.read_text()) == ("new", "old")
    dst.unlink()
    assert fs.rename(Path(str(src)), Path(str(dst)))
    assert dst.read_text() == "new" and not src.exists()


def test_symlinks_are_reported_through_file_system_and_file_context(spark, tmp_path):
    jvm, fs, fc = _fs(spark)
    target, link = tmp_path / "target", tmp_path / "link"
    target.write_text("x")
    link.symlink_to(target)
    Path = jvm.org.apache.hadoop.fs.Path
    for api in (fs, fc):
        assert api.getFileLinkStatus(Path(str(link))).isSymlink()
        assert not api.getFileLinkStatus(Path(str(target))).isSymlink()


def _build_module():
    path = os.path.join(os.path.dirname(session._FS_JAR), "build.py")
    spec = importlib.util.spec_from_file_location("fs_jar_build", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac")
def test_committed_jar_is_built_from_the_committed_source():
    build = _build_module()
    api = build.hadoop_api_jar()
    assert os.path.basename(api) == f"hadoop-client-api-{session._FS_JAR_HADOOP}.jar"
    assert os.path.basename(session._FS_JAR) == build.jar_name(session._FS_JAR_HADOOP)
    with zipfile.ZipFile(session._FS_JAR) as z:
        committed = {n: z.read(n) for n in z.namelist()}
    assert build.compile_classes(api) == committed


def test_fs_confs_come_together_or_not_at_all(spark, monkeypatch):
    """All three confs with the jar on a matching Spark whose running
    JVM loads the shim; none when any of that does not hold."""
    assert set(session._fork_free_fs_conf()) == {
        "spark.driver.extraClassPath",
        "spark.hadoop.fs.file.impl",
        "spark.hadoop.fs.AbstractFileSystem.file.impl",
    }
    for name, value in (
        ("_FS_JAR", session._FS_JAR + ".missing"),
        ("_FS_JAR_HADOOP", "0.0.0"),
        ("_FS_CLASS", "kpws.fs.Missing$"),
    ):
        with monkeypatch.context() as m:
            m.setattr(session, name, value)
            assert session._fork_free_fs_conf() == {}, name
