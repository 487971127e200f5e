"""Session-scoped artifacts: build-once index tables and cached frames.

Two mechanisms the operator modules share, each kept in one place:

- ``ensure_artifact`` builds a derived catalog table once and returns
  its qualified name. Every artifact lives in one database with an
  explicit per-pid /tmp location (removed at exit), named
  ``<name>_<tag>``, where the tag hashes the source table's stat
  fingerprint (``catalog._fingerprint``, the same test the schema memo
  uses for "has this table changed"). A rewritten source therefore
  gets new names and a fresh build instead of a stale table. An
  artifact built from another artifact carries the same tag, so one
  content change rebuilds the whole chain.
- ``cache_frame`` is the one registry of ``.cache()``d frames. Frames
  are registered under a namespaced key (``("wand", sf_dir, ...)``,
  ``("rag_delta_tf", sf_dir, ...)``), and a fresh registration under a
  key unpersists that key's previous frames, so a long session (an
  oracle sweep, the test suite) holds at most one generation per key
  while frames under other keys, which a still-lazy plan may read,
  stay cached.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_parquet_writer_spark.catalog import _fingerprint, table_path
from kafka_parquet_writer_spark.sources.bucketed import write_bucketed

#: database holding the artifact tables
_INDEX_DB = "kpws_rag_idx"

#: database locations already scheduled for atexit removal (this pid's
#: own directories only — the name embeds the pid)
_CLEANUP_REGISTERED: set[str] = set()

#: key -> the frames currently cached under it (see cache_frame)
_cache: dict[tuple, list[DataFrame]] = {}


def _ensure_index_db(spark: SparkSession) -> None:
    """Create the artifact database at an explicit per-pid /tmp
    location, registered for atexit removal: materialized tables stay
    out of the repo tree and apart across concurrent processes,
    whatever warehouse the running session defaults to."""
    loc = os.path.join(tempfile.gettempdir(), f"kpws_rag_idx_{os.getpid()}")
    if loc not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(loc)
        atexit.register(shutil.rmtree, loc, ignore_errors=True)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_INDEX_DB} LOCATION '{loc}'")


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
    tbl = f"{_INDEX_DB}.{name}_{_index_tag(sf_dir, table)}"
    if spark.catalog.tableExists(tbl):
        return tbl
    _ensure_index_db(spark)
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
        for prev in _cache.pop(key, []):
            prev.unpersist()
    df = df.cache()
    _cache.setdefault(key, []).append(df)
    return df


def cached_frames(key: tuple) -> list[DataFrame]:
    """The frames currently cached under ``key``, oldest first."""
    return _cache.get(key, [])
