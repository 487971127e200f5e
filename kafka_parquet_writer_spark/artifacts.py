"""Session-scoped state: build-once index tables, cached frames, memos
and scratch dirs, all kept in this module's one dict.

Everything the driver keeps between calls lives here, under one
lifetime rule per kind:

- **Frames, per key generation.** ``cache_frame`` is the one registry
  of ``.cache()``d frames. Frames are registered under a namespaced key
  (``("wand", sf_dir, ...)``, ``("rag_delta_tf", sf_dir, ...)``), and a
  fresh registration under a key unpersists that key's previous frames,
  so a long session (an oracle sweep, the test suite) holds at most one
  generation per key while frames under other keys, which a still-lazy
  plan may read, stay cached.
- **Measurements, until ``clear``.** ``memo(key, build)`` returns what
  ``build()`` returned the first time ``key`` was asked for (a WAND
  candidate count). ``clear(spark)`` drops the session's cache and
  forgets every frame and measurement with it, so a plan built after it
  is the plan a fresh session would build.
- **Scratch dirs, until exit.** ``scratch(prefix)`` makes a dir under
  one per-process root, ``<tempdir>/kpws_<pid>/``, removed by one
  ``atexit`` hook. A memo whose key starts with ``"scratch"`` names
  files under that root (a staged stream source) and survives
  ``clear``: files are not cache.

``ensure_artifact`` builds a derived catalog table once and returns its
qualified name. Every artifact lives in one database located under the
scratch root, named ``<name>_<tag>``, where the tag hashes the source
table's stat fingerprint (``catalog._fingerprint``, the same test the
schema memo uses for "has this table changed"). A rewritten source
therefore gets new names and a fresh build instead of a stale table. An
artifact built from another artifact carries the same tag, so one
content change rebuilds the whole chain.

No entry is locked: no caller runs concurrently, because a
``foreachBatch`` body runs while its caller blocks in
``awaitTermination``.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from kafka_parquet_writer_spark.catalog import _fingerprint, table_path

#: database holding the artifact tables
_INDEX_DB = "kpws_rag_idx"

#: the one registry: ("frames", key) -> the frames cached under key;
#: any other key -> the value memo built for it
_state: dict[tuple, Any] = {}


def memo(key: tuple, build: Callable[[], Any]) -> Any:
    """The value registered under ``key``; the first call registers
    ``build()``. Keys are namespaced tuples whose first element names
    the caller; ``"scratch"`` keys live until exit, all others until
    ``clear``."""
    if key not in _state:
        _state[key] = build()
    return _state[key]


def scratch_root() -> str:
    """This process's scratch root, ``<tempdir>/kpws_<pid>``. The first
    call registers its removal at exit; the dir itself is made by the
    first ``scratch`` call (or by whoever writes under it)."""

    def register() -> str:
        root = os.path.join(tempfile.gettempdir(), f"kpws_{os.getpid()}")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        return root

    return memo(("scratch", "root"), register)


def scratch(prefix: str) -> str:
    """A new empty dir named ``<prefix>…`` under the scratch root,
    removed at exit with the root."""
    root = scratch_root()
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def clear(spark: SparkSession) -> None:
    """``spark.catalog.clearCache()``, then forget every registered
    frame and every measurement taken on them. Scratch entries (staged
    sources) are files and stay."""
    spark.catalog.clearCache()
    for key in [k for k in _state if k[0] != "scratch"]:
        del _state[key]


def _index_tag(sf_dir: str, table: str = "documents") -> str:
    """Short hash of ``table``'s real path and stat fingerprint under
    ``sf_dir``: one driver-side stat walk, no data read."""
    path = table_path(sf_dir, table)
    key = (os.path.realpath(path), _fingerprint(path))
    return hashlib.md5(repr(key).encode()).hexdigest()[:10]


def ensure_artifact(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build: Callable[[], DataFrame],
    *,
    bucket_by: str | None,
    sort_by: list[str] | None,
    n_buckets: int,
    table: str = "documents",
) -> str:
    """Qualified name of the artifact ``name`` derived from ``sf_dir``'s
    ``table``; the first call for a given source content writes
    ``build()`` there, later calls only look the table up (no Spark
    job). The table is bucketed by ``bucket_by`` into ``n_buckets`` and
    sorted by ``sort_by`` (sources/bucketed.py), or written plain when
    ``bucket_by`` is None."""
    from kafka_parquet_writer_spark.sources.bucketed import write_bucketed

    tbl = f"{_INDEX_DB}.{name}_{_index_tag(sf_dir, table)}"
    if spark.catalog.tableExists(tbl):
        return tbl
    loc = os.path.join(scratch_root(), "rag_idx")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_INDEX_DB} LOCATION '{loc}'")
    df = build()
    if bucket_by is None:
        df.write.mode("overwrite").saveAsTable(tbl)
    else:
        write_bucketed(
            df,
            tbl,
            bucket_cols=bucket_by,
            n_buckets=n_buckets,
            sort_cols=sort_by,
        )
    return tbl


def cache_frame(key: tuple, df: DataFrame, *, fresh: bool = True) -> DataFrame:
    """``df.cache()``, registered under ``key``.

    With ``fresh`` (the default) the frames ``key`` already holds are
    unpersisted first, and ``df`` starts the key's new generation;
    ``fresh=False`` adds ``df`` to the current generation (a plan that
    caches several of its stages). The unpersist must come BEFORE the
    ``.cache()``: a predecessor with the identical canonical plan shares
    one CacheManager entry with ``df``, so unpersisting it afterwards
    would drop the entry just registered."""
    if fresh:
        for prev in _state.pop(("frames", key), []):
            prev.unpersist()
    df = df.cache()
    _state.setdefault(("frames", key), []).append(df)
    return df


def cached_frames(key: tuple) -> list[DataFrame]:
    """The frames currently cached under ``key``, oldest first."""
    return _state.get(("frames", key), [])
