from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_dataset_analysis_apache_hive_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


def make_spark():
    """The test session; ``tests/budget.py`` measures its budget on the same."""
    return get_spark("tests", master="local[4]", shuffle_partitions=4)


@pytest.fixture(scope="session")
def spark():
    yield make_spark()


@pytest.fixture(scope="session")
def sf0001_dir():
    return SF0001


@pytest.fixture(scope="session")
def sf001_dir():
    return SF001
