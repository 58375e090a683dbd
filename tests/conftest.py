from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sm_etl_cloud_run_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def shuffle_partitions(spark):
    """`with shuffle_partitions(n):` sets `spark.sql.shuffle.partitions`
    to `n` while a plan is built, e.g. to give the `distributed_*`
    windows `n` range partitions."""

    @contextlib.contextmanager
    def set_to(n: int):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return set_to
