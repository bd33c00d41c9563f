"""Degenerate input: j5 on zero-row tables must still match its DuckDB
oracle (its Z-order leg once took min() over the footer stats of an empty
lineitem slice)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from nyc_taxi_dataset_analysis_apache_hive_spark import registry
from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_TABLES
from tests.parity import compare, duckdb_conn


def test_j5_on_zero_row_tables(spark, sf0001_dir, tmp_path):
    # every table, so the DuckDB views resolve; j5 reads seven of them
    for t in TESTDATA_TABLES:
        schema = pq.read_schema(os.path.join(sf0001_dir, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), str(tmp_path / f"{t}.parquet"))
    name = "j5_join_surface"
    con = duckdb_conn(str(tmp_path))
    try:
        df = registry.QUERIES[name](spark, str(tmp_path))
        problems = compare(df, con, registry.ORACLES[name], name)
    finally:
        con.close()
    assert not problems, "\n".join(problems)
