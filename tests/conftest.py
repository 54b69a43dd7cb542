from __future__ import annotations

import os

import pytest

from jigsaw_spark.session import get_spark, load_tables

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("jigsaw_spark-tests", cpus=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    """All synthetic tables at the smoke scale factor, registered as views."""
    return load_tables(spark, SF_SMOKE)
