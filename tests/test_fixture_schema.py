"""sources.tables.fixture_schema: the read schema derived from one
parquet footer read must be the schema Spark would infer, and loading
the fixture with it must run no Spark job."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.errors import PySparkTypeError

from sparrow_spark.sources.tables import (
    TABLES,
    fixture_schema,
    load_table,
    register_views,
)


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_derived_schema_equals_inferred(spark, sf_dir):
    """Every table of every fixture scale next to the test fixture; the
    schema Spark infers is the oracle."""
    sf_dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    assert sf_dirs
    mismatched = []
    for d in sf_dirs:
        for table in TABLES:
            path = os.path.join(d, f"{table}.parquet")
            schema, _ = fixture_schema(spark, path)
            if schema != spark.read.parquet(path).schema:
                mismatched.append(path)
    assert not mismatched


def test_loads_run_no_spark_job(spark, sf_dir):
    before = _next_job_id(spark)
    load_table(spark, sf_dir, "events")
    register_views(spark, sf_dir)
    assert _next_job_id(spark) - before == 0


def test_unmappable_type_raises(spark, tmp_path):
    path = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"k": pa.array([1], type=pa.uint64())}), path)
    with pytest.raises(PySparkTypeError):
        fixture_schema(spark, path)


def test_directory_without_parquet_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        fixture_schema(spark, str(tmp_path))
