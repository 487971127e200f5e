"""Rebuild the fork-free ``file:`` filesystem jar from ``ForkFreeLocal.java``.

    python kafka_parquet_writer_spark/jvm/build.py

Compiles the source with ``javac --release 17`` against the
``hadoop-client-api`` jar of the Spark that pyspark launches
(``$SPARK_HOME/jars``, else pyspark's bundled ``jars``) and writes
``forkfree-localfs-hadoop-<version>.jar`` next to the source. Entries
are sorted and carry a fixed timestamp, so a rebuild by the same
``javac`` gives the same bytes. ``session.get_spark`` loads the jar
only when the Spark it launches has that ``hadoop-client-api`` version.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(HERE, "ForkFreeLocal.java")
_API_PREFIX = "hadoop-client-api-"


def jar_name(hadoop_version: str) -> str:
    return f"forkfree-localfs-hadoop-{hadoop_version}.jar"


def hadoop_api_jar() -> str:
    """The ``hadoop-client-api`` jar of the Spark that pyspark launches."""
    from pyspark.find_spark_home import _find_spark_home

    [api] = glob.glob(os.path.join(_find_spark_home(), "jars", _API_PREFIX + "*.jar"))
    return api


def compile_classes(api_jar: str) -> dict[str, bytes]:
    """``ForkFreeLocal.java`` compiled against ``api_jar``: class file
    path inside the jar → bytes."""
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-cp", api_jar, "-d", out, SOURCE],
            check=True,
        )
        classes = {}
        for root, _, files in os.walk(out):
            for name in files:
                path = os.path.join(root, name)
                with open(path, "rb") as f:
                    classes[os.path.relpath(path, out).replace(os.sep, "/")] = f.read()
        return classes


def main() -> int:
    api = hadoop_api_jar()
    version = os.path.basename(api)[len(_API_PREFIX) : -len(".jar")]
    target = os.path.join(HERE, jar_name(version))
    with zipfile.ZipFile(target, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in sorted(compile_classes(api).items()):
            z.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data)
    print(target)
    return 0


if __name__ == "__main__":
    sys.exit(main())
