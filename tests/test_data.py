"""Tests for data.table's parquet read: the schema is inferred once per
path and reused while the path's files and the session's parquet confs
are unchanged; a rewrite or a conf change infers again."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from themis_tritonsort_spark.data import TABLES, _read_parquet, table


def _jobs_since(spark, mark: int) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return sum(1 for j in ids if j > mark)


def _mark(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def test_warm_five_table_query_builds_with_no_jobs(spark, sf_dir):
    """q15 reads lineitem, orders, customer, nation and region.  Once
    their schemas are known, building its frame launches no job."""
    from themis_tritonsort_spark.queries import CATALOG

    CATALOG["q15_revenue_by_nation"](spark, sf_dir)
    mark = _mark(spark)
    CATALOG["q15_revenue_by_nation"](spark, sf_dir)
    assert _jobs_since(spark, mark) == 0


@pytest.mark.parametrize("name", TABLES)
def test_memoized_read_equals_inferring_read(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    _read_parquet(spark, path)
    mark = _mark(spark)
    memo = _read_parquet(spark, path)
    assert _jobs_since(spark, mark) == 0
    plain = spark.read.parquet(path)
    assert memo.schema == plain.schema  # StructField equality includes nullability
    assert memo.collect() == plain.collect()


def _write(path: str, t: pa.Table, as_dir: bool) -> None:
    """``t`` as one parquet file at ``path``, or as a directory holding
    one part file and a _SUCCESS marker, the layout Spark writes."""
    if as_dir:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(t, os.path.join(path, "part-00000.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    else:
        pq.write_table(t, path)


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "directory"])
def test_rewrite_infers_the_new_schema(spark, sf_dir, tmp_path, as_dir):
    path = str(tmp_path / "region.parquet")
    if as_dir:
        _write(path, pq.read_table(os.path.join(sf_dir, "region.parquet")), True)
    else:
        shutil.copy(os.path.join(sf_dir, "region.parquet"), path)
    before = table(spark, str(tmp_path), "region")
    assert table(spark, str(tmp_path), "region").schema == before.schema
    _write(path, pa.table({"other": pa.array([1, 2, 3], pa.int32())}), as_dir)
    after = table(spark, str(tmp_path), "region")
    assert after.schema.names == ["other"]
    assert sorted(r["other"] for r in after.collect()) == [1, 2, 3]


def test_parquet_conf_change_infers_again(spark, tmp_path):
    """A binary column reads as a string under binaryAsString and as
    binary without it, whichever session read the path first."""
    from pyspark.sql.types import BinaryType, StringType

    path = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"yz"], pa.binary())}), path)
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert isinstance(_read_parquet(other, path).schema["b"].dataType, StringType)
    assert isinstance(_read_parquet(spark, path).schema["b"].dataType, BinaryType)
    assert isinstance(_read_parquet(other, path).schema["b"].dataType, StringType)


def test_job_spec_input_directory_reads_through_the_memo(spark, sf_dir, tmp_path):
    """A job spec's ``input_directory`` (a Spark-written parquet
    directory) infers its schema once, like a catalog table."""
    from themis_tritonsort_spark.plans.job import ThemisJob, _resolve_source

    path = str(tmp_path / "nation")
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.parquet(path)
    job = ThemisJob.from_spec({"input_directory": path})
    first = _resolve_source(spark, job, None, None)
    mark = _mark(spark)
    again = _resolve_source(spark, job, None, None)
    assert _jobs_since(spark, mark) == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())
