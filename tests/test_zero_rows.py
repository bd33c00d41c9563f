"""Degenerate input: entries on zero-row tables must still match their
DuckDB oracles (j5's Z-order leg once took min() over the footer stats of
an empty lineitem slice; a10's KLL leg once read a rank off the empty
merged sketch, and its theta leg dropped its exact rows).  k1, k2, k3 and
tv1 build the IVF/PQ indexes, semantic-dedup labels and BM25/hybrid
retrieval tables, so an empty corpus exercises every artifact builder."""

from __future__ import annotations

import hashlib
import os
import tempfile

import pyarrow.parquet as pq
import pytest

from nyc_taxi_dataset_analysis_apache_hive_spark import registry
from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_TABLES
from tests.parity import compare, duckdb_conn


@pytest.mark.parametrize(
    "name",
    [
        "j5_join_surface",
        "a10_distinct_counts",
        "k1_knn_bruteforce",
        "k2_ann_lsh_ivf",
        "k3_embedding_near_pairs",
        "tv1_text_stats",
    ],
)
def test_entry_on_zero_row_tables(spark, sf0001_dir, tmp_path, name):
    # every table, so the DuckDB views resolve
    for t in TESTDATA_TABLES:
        schema = pq.read_schema(os.path.join(sf0001_dir, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), str(tmp_path / f"{t}.parquet"))
    con = duckdb_conn(str(tmp_path))
    try:
        df = registry.QUERIES[name](spark, str(tmp_path))
        problems = compare(df, con, registry.ORACLES[name], name)
    finally:
        con.close()
    assert not problems, "\n".join(problems)
    if name == "j5_join_surface":
        # the Z-order leg's output is a literal row, so its written dir
        # is deleted before the call returns
        tag = hashlib.md5(str(tmp_path).encode()).hexdigest()[:8]
        zdir = os.path.join(tempfile.gettempdir(), f"spark_graft_j5_zorder_{tag}")
        assert not os.path.exists(zdir)
