"""The declared testdata schemas (``schema.TESTDATA_SCHEMAS``) against the
files.  ``load_table`` reads with the declared schema instead of inferring
the footer, so a declared column the file lacks (a typo, a rename) reads as
silent NULLs and a retyped one fails or coerces; this pins each table's
``(name, dataType)`` list to what Spark infers from the file, at every scale
factor."""

from __future__ import annotations

import os

import pytest

from nyc_taxi_dataset_analysis_apache_hive_spark.schema import (
    TESTDATA_SCHEMAS,
    TESTDATA_TABLES,
)
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
from perfbench.tracing import SparkCounters
from tests.conftest import SF0001

SF_DIRS = [
    os.path.join(os.path.dirname(SF0001), sf)
    for sf in ("sf0.001", "sf0.01", "sf0.1")
]


def _fields(schema) -> list[tuple[str, object]]:
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_every_table_is_declared(sf_dir):
    files = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    assert files == sorted(f"{t}.parquet" for t in TESTDATA_TABLES)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_declared_schema_matches_file(spark, sf_dir, name):
    inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    assert _fields(TESTDATA_SCHEMAS[name]) == _fields(inferred)


def test_load_table_runs_no_job(spark, sf0001_dir):
    """Reading with a declared schema skips the footer-inference job that
    ``spark.read.parquet`` runs per call."""
    jobs = SparkCounters(spark)
    before = jobs.last_job_id()
    for name in TESTDATA_TABLES:
        load_table(spark, sf0001_dir, name)
    assert jobs.last_job_id() == before
