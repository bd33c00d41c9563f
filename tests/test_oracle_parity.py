"""The local correctness gate: every registry query vs its DuckDB oracle at
sf0.001 (fast; the driver runs sf0.01 -- tests/test_oracle_parity_sf001.py
replays the same check there, marked slow).  The same call is held to the
entry's structural budget (jobs, stages, parquet scans, py4j calls;
tests/budget.py)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests import budget
from tests.parity import compare, duckdb_conn

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()
BUDGET = budget.load()


@pytest.fixture(scope="module")
def con(sf0001_dir):
    c = duckdb_conn(sf0001_dir)
    yield c
    c.close()


@pytest.fixture(scope="module")
def warm_spark(spark, sf0001_dir):
    budget.warm(spark, sf0001_dir)
    return spark


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, warm_spark, con, sf0001_dir):
    problems, counts = budget.measure(
        warm_spark,
        QUERIES[name],
        sf0001_dir,
        lambda df: compare(df, con, ORACLES[name], name),
    )
    problems += budget.misses(name, counts, BUDGET)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark, sf0001_dir):
    df = QUERIES[name](spark, sf0001_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
