import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparrow_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("sparrow-tests", master="local[4]")
    yield spark


@pytest.fixture()
def engine(spark, tmp_path):
    """Fresh engine against a throwaway warehouse — the same pattern as
    the reference's per-test sled dir (src/test/test_util.rs:17-75)."""
    from sparrow_spark.engine import Engine

    return Engine(spark, str(tmp_path / "warehouse"))


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
