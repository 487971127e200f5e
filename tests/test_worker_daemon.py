"""The Python worker daemon (``kafka_parquet_writer_spark.daemon``):
workers import pyspark from plain files, not from Spark's archives, so
the ``importlib.invalidate_caches()`` each task starts with has no
zip directory to re-read."""

import json
import os
import zipfile

import pyspark

from kafka_parquet_writer_spark.daemon import without_archives

#: the directory the driver imports the installed pyspark from
SITE = os.path.dirname(os.path.dirname(pyspark.__file__))


def test_python_worker_imports_the_installed_pyspark(spark):
    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        info = {
            "archives": [
                p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)
            ],
            "zipimporters": [
                k
                for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)
            ],
            "file": worker_pyspark.__file__,
            "version": worker_pyspark.__version__,
        }
        yield pa.RecordBatch.from_pydict({"info": [json.dumps(info)]})

    [row] = spark.range(1, numPartitions=1).mapInArrow(report, "info string").collect()
    info = json.loads(row.info)
    assert info["archives"] == []
    assert info["zipimporters"] == []
    assert os.path.isfile(info["file"]), info["file"]
    assert info["version"] == spark.version


def _pyspark_zip(path, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(path)


def test_archives_dropped_when_the_installed_pyspark_matches(tmp_path):
    archive = _pyspark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    assert without_archives([archive, SITE]) == [SITE]


def test_path_untouched_without_an_installed_pyspark(tmp_path):
    archive = _pyspark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    empty = tmp_path / "empty"
    empty.mkdir()
    path = [archive, str(empty)]
    assert without_archives(path) is path


def test_path_untouched_when_the_installed_pyspark_differs(tmp_path):
    archive = _pyspark_zip(tmp_path / "pyspark.zip", "0.0.1")
    path = [archive, SITE]
    assert without_archives(path) is path


def test_path_untouched_when_an_archive_is_unreadable(tmp_path):
    bad = tmp_path / "pyspark.zip"
    bad.write_bytes(b"not a zip")
    path = [str(bad), SITE]
    assert without_archives(path) is path
