"""Build-once index artifacts (artifacts.ensure_artifact): every
artifact the operators materialize is built on its first call, served
by a catalog lookup afterwards, and rebuilt under a new name once its
source table is rewritten."""

import itertools
import os
import shutil

import pytest

from kafka_parquet_writer_spark.catalog import table_path
from kafka_parquet_writer_spark.operators import rag_prep as RP
from kafka_parquet_writer_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"

#: (accessor, artifact name, source table) for every artifact
ARTIFACTS = [
    (RP._index_table, n, "documents") for n in RP._INDEX_ARTIFACTS
] + [(S._ann_table, n, "embeddings") for n in ("ann_pq", "ann_pq_base")]

_groups = itertools.count()


def _jobs_during(spark, fn):
    """``(fn(), number of Spark jobs it launched from this thread)``."""
    sc = spark.sparkContext
    group = f"artifact_{next(_groups)}"
    sc.setJobGroup(group, "artifact job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "accessor,name,table", ARTIFACTS, ids=[a[1] for a in ARTIFACTS]
)
def test_artifact_builds_once_per_source_content(
    spark, tmp_path, accessor, name, table
):
    d = str(tmp_path)
    src = table_path(d, table)
    shutil.copy(table_path(SF, table), src)
    t1 = accessor(spark, d, name)
    assert spark.catalog.tableExists(t1)
    # a second call is a catalog lookup: same table, zero Spark jobs
    t2, jobs = _jobs_during(spark, lambda: accessor(spark, d, name))
    assert (t2, jobs) == (t1, 0)
    # rewriting the source changes its content tag: a new table is built
    os.remove(src)
    shutil.copy(table_path(SF, table), src)
    t3 = accessor(spark, d, name)
    assert t3 != t1
    assert spark.catalog.tableExists(t3)


def _build_state_users(spark):
    """Build one key of each memo/registry user: a WAND key (candidate
    count memo and frames), a ``_ranged_stream`` user (staged split)
    and a ``cache_frame`` user (the set-similarity base)."""
    from kafka_parquet_writer_spark.operators import streaming_queries as SQ
    from kafka_parquet_writer_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    QUERIES["rag_topk_retrieval_wand"](spark, SF)
    SQ._documents_stream(spark, SF)
    QUERIES["dedup_ngram_jaccard"](spark, SF)


def test_registry_holds_one_entry_per_key(spark):
    """Running the same keys again registers nothing new: every entry
    is replaced or reused under its namespaced key."""
    from kafka_parquet_writer_spark import artifacts

    _build_state_users(spark)
    first = set(artifacts._state)
    _build_state_users(spark)
    assert set(artifacts._state) == first
    assert {k[0] for k in first} >= {"wand_count", "frames", "scratch"}
    assert ("scratch", "ranged", "documents", SF, 4) in first


def test_wand_count_runs_once_between_clears(spark):
    """A WAND plan identity pays its candidate count job once; a warm
    build runs no Spark job, and ``clear`` forgets the count with the
    cache, so the next build measures again. Staged sources survive
    ``clear``: a warm ``_ranged_stream`` still runs no job."""
    from kafka_parquet_writer_spark import artifacts
    from kafka_parquet_writer_spark.operators import streaming_queries as SQ
    from kafka_parquet_writer_spark.registry import QUERIES, load_all_operators

    load_all_operators()

    def build():
        return QUERIES["rag_topk_retrieval_wand"](spark, SF)

    artifacts.clear(spark)
    _, cold = _jobs_during(spark, build)
    _, warm = _jobs_during(spark, build)
    assert cold >= 1 and warm == 0
    SQ._documents_stream(spark, SF)
    artifacts.clear(spark)
    _, staged = _jobs_during(spark, lambda: SQ._documents_stream(spark, SF))
    assert staged == 0
    _, again = _jobs_during(spark, build)
    assert again == cold
    artifacts.clear(spark)
