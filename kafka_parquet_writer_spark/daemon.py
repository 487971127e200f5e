"""Python worker daemon: the stock ``pyspark.daemon`` with the pyspark
archives taken off ``sys.path``.

Spark starts the daemon with ``PYTHONPATH`` led by
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the spark-core
jar, so a worker imports pyspark from the zip. Before every task,
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 each cached
``zipimporter`` re-reads its whole archive directory there, and a
reused worker holds one per imported pyspark sub-package plus the jar's.
On ``local[2]`` a no-op one-task ``mapInArrow`` job took 250 ms with
the archives and 135 ms without; an 8-task one, 1007 and 382 ms. When
the same pyspark (and py4j) is installed as plain files,
this module drops the archives from ``sys.path`` and their importers
from ``sys.path_importer_cache``, then runs the stock daemon; otherwise
it changes nothing.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
It must run before any ``pyspark`` import, which is why the package's
``__init__`` imports nothing eagerly.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

#: packages the worker imports from the archives
_ARCHIVED = ("pyspark", "py4j")

_VERSION = re.compile(r"""__version__[^=]*=\s*["']([^"']+)["']""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def without_archives(path: list[str]) -> list[str]:
    """``path`` without its ``.zip``/``.jar`` archive entries, if the
    rest of it still imports pyspark and py4j from plain files, and that
    pyspark has the version of the one archived; else ``path`` itself."""
    archives = [
        p for p in path if p.endswith((".zip", ".jar")) and os.path.isfile(p)
    ]
    if not archives:
        return path
    rest = [p for p in path if p not in archives]
    specs = {name: PathFinder.find_spec(name, rest) for name in _ARCHIVED}
    if any(s is None or not s.has_location for s in specs.values()):
        return path
    pkg_dir = os.path.dirname(specs["pyspark"].origin)
    try:
        with open(os.path.join(pkg_dir, "version.py")) as f:
            installed = _version(f.read())
    except OSError:
        return path
    for archive in archives:
        try:
            with zipfile.ZipFile(archive) as z:
                archived = z.read("pyspark/version.py").decode()
        except KeyError:
            continue
        except (OSError, zipfile.BadZipFile):
            return path
        if _version(archived) != installed:
            return path
    return rest


if __name__ == "__main__":
    kept = without_archives(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()
