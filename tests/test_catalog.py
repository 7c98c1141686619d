"""Session catalog: ``load_table`` resolves each table once per file
set and serves the same DataFrame, with no Spark job, until the
table's files change."""

import contextlib
import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR
from pyspark.errors import AnalysisException

from document_parsing_etl_pipeline_spark.catalog import TABLES, load_table


@contextlib.contextmanager
def _jobs(spark):
    """Collect the ids of every Spark job started inside the block."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    ids: list = []
    try:
        yield ids
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _copy_table(sf_dir, name, dest):
    os.makedirs(dest, exist_ok=True)
    shutil.copyfile(os.path.join(sf_dir, f"{name}.parquet"),
                    os.path.join(dest, f"{name}.parquet"))
    return dest


def test_warm_load_table_is_identical_and_runs_no_job(spark, tmp_path):
    cold_sf = _copy_table(SF_DIR, "region", str(tmp_path / "cold"))
    with _jobs(spark) as cold_jobs:
        load_table(spark, cold_sf, "region")
    # the check below is not vacuous: resolving a table does run a job
    assert cold_jobs
    first = {name: load_table(spark, SF_DIR, name) for name in TABLES}
    with _jobs(spark) as warm_jobs:
        again = {name: load_table(spark, SF_DIR, name) for name in TABLES}
    assert warm_jobs == []
    for name in TABLES:
        assert again[name] is first[name], name


def test_warm_load_table_leaves_session_conf_unchanged(spark):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    for name in TABLES:
        load_table(spark, SF_DIR, name)
    spark.conf.unset(key)
    try:
        before = dict(spark.conf.getAll)
        for name in TABLES:
            load_table(spark, SF_DIR, name)
        assert dict(spark.conf.getAll) == before
    finally:
        # the resolved events scan reads with this conf at execution
        spark.conf.set(key, "true")


def test_rewritten_single_file_table_returns_new_rows(spark, tmp_path):
    sf = _copy_table(SF_DIR, "nation", str(tmp_path))
    path = os.path.join(sf, "nation.parquet")
    full = pq.read_table(path)
    first = load_table(spark, sf, "nation")
    assert first.count() == full.num_rows
    pq.write_table(full.slice(0, 7), path)
    second = load_table(spark, sf, "nation")
    assert second is not first
    assert second.count() == 7
    assert load_table(spark, sf, "nation") is second


def test_overwritten_directory_table_returns_new_rows(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "nation.parquet")
    src = load_table(spark, SF_DIR, "nation")
    src.write.mode("overwrite").parquet(path)
    first = load_table(spark, sf, "nation")
    assert first.count() == src.count()
    src.where("n_nationkey < 5").write.mode("overwrite").parquet(path)
    second = load_table(spark, sf, "nation")
    assert second is not first
    assert sorted(r[0] for r in second.select("n_nationkey").collect()) \
        == [0, 1, 2, 3, 4]


def test_deleted_table_raises(spark, tmp_path):
    sf = _copy_table(SF_DIR, "region", str(tmp_path))
    assert load_table(spark, sf, "region").count() > 0
    os.remove(os.path.join(sf, "region.parquet"))
    with pytest.raises(AnalysisException):
        load_table(spark, sf, "region")


def test_same_table_under_two_sf_dirs_resolves_apart(spark, tmp_path):
    a = _copy_table(SF_DIR, "region", str(tmp_path / "a"))
    b = _copy_table(SF_DIR, "region", str(tmp_path / "b"))
    pq.write_table(
        pq.read_table(os.path.join(b, "region.parquet")).slice(0, 2),
        os.path.join(b, "region.parquet"),
    )
    ra, rb = load_table(spark, a, "region"), load_table(spark, b, "region")
    assert ra is not rb
    assert load_table(spark, a, "region") is ra
    assert ra.inputFiles() != rb.inputFiles()
    assert (ra.count(), rb.count()) == (5, 2)


def test_path_without_fingerprint_is_read_every_call(spark, tmp_path):
    # a URI the local filesystem cannot stat is never served from cache
    sf = "file://" + _copy_table(SF_DIR, "region", str(tmp_path))
    first = load_table(spark, sf, "region")
    assert load_table(spark, sf, "region") is not first
    assert first.count() == 5
