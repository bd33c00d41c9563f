"""Stored-table gate for the reference workload's SQL.

The reference runs its statements over two stored tables: the CSV external
table ``ss.ss_nyc`` (REF:32-55) and the partitioned ORC table its INSERT
OVERWRITE writes (REF:251-269).  ``taxi_sql.register_taxi_views`` instead
registers lazy DataFrame plans: the parquet scan and ``etl.clean_trips``
over it.  Every statement must give the same answer over both catalogs, so
the CSV reader, the ETL operator and the partitioned sink stay
interchangeable with the plans the statements are checked on
(test_taxi_golden.py checks those answers against DuckDB and goldens).
"""

from __future__ import annotations

import math

import pytest

from nyc_taxi_dataset_analysis_apache_hive_spark import taxi_sql
from nyc_taxi_dataset_analysis_apache_hive_spark.operators import etl
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import (
    read_trips_csv,
    read_trips_parquet,
)
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.writers import (
    write_clean_partitioned,
)
from tests.parity import rows_from_spark
from tests.taxi_fixture import write_fixture

#: statements whose answer on the fixture is empty by construction (pinned
#: by test_negative_distances_empty and test_validate_clean_empty)
EMPTY_ON_FIXTURE = frozenset({"negative_distances", "validate_clean"})


@pytest.fixture(scope="module")
def catalogs(spark, tmp_path_factory):
    """The fixture's trips as the lazy operator views and as REF's stored
    tables: the raw CSV and the ORC table written from its cleaned rows."""
    d = tmp_path_factory.mktemp("taxi_sql")
    paths = write_fixture(str(d))
    raw = read_trips_csv(spark, paths["csv"])
    out = str(d / "trips_clean")
    write_clean_partitioned(etl.clean_trips(raw), out, fmt="orc")
    return {
        "operator": (read_trips_parquet(spark, paths["parquet"]), None),
        "table": (raw, spark.read.orc(out)),
    }


def _run(spark, catalog, name):
    trips, stored_clean = catalog
    taxi_sql.register_taxi_views(spark, trips)
    if stored_clean is not None:
        stored_clean.createOrReplaceTempView("trips_clean")
    return taxi_sql.run_taxi_sql(spark, name)


def _answer(spark, catalog, name):
    """(schema, rows sorted by repr) of one statement over one catalog."""
    df = _run(spark, catalog, name)
    schema = [(f.name, f.dataType.simpleString()) for f in df.schema]
    return schema, sorted(rows_from_spark(df)[0], key=repr)


def _same(a, b):
    """Value equality, with unrounded doubles equal within 1e-9: an
    average over the ORC table's files sums in another order than over
    the single parquet scan."""
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


@pytest.mark.parametrize("name", sorted(taxi_sql.ALL_TAXI_SQL))
def test_ref_sql_matches_dataframe_operator(spark, catalogs, name):
    t_schema, t_rows = _answer(spark, catalogs["table"], name)
    o_schema, o_rows = _answer(spark, catalogs["operator"], name)
    assert t_schema == o_schema, f"{name}: schema drift table vs operator"
    if name in taxi_sql.NONDETERMINISTIC_SAMPLES:
        # LIMIT without ORDER BY: the engine picks the rows, so the
        # contract here is schema + row count; set membership is asserted
        # in test_sample_rows_belong_to_predicate_set
        assert len(t_rows) == len(o_rows)
        return
    assert len(t_rows) == len(o_rows), f"{name}: row count table vs operator"
    for t, o in zip(t_rows, o_rows):
        assert all(map(_same, t, o)), f"{name}: value drift {t} vs {o}"
    assert bool(t_rows) != (name in EMPTY_ON_FIXTURE), f"{name}: {len(t_rows)} rows"


def test_sample_rows_belong_to_predicate_set(spark, catalogs):
    """Each LIMIT sample over the stored tables returns min(LIMIT, n) rows,
    all FROM the statement's row set without its LIMIT over the operator
    views (the part of REF's contract that is deterministic)."""
    for name in sorted(taxi_sql.NONDETERMINISTIC_SAMPLES):
        body, limit = taxi_sql.ALL_TAXI_SQL[name].rsplit("LIMIT", 1)
        got, got_cols = rows_from_spark(_run(spark, catalogs["table"], name))
        _run(spark, catalogs["operator"], name)
        full, full_cols = rows_from_spark(spark.sql(body))
        assert got_cols == full_cols, name
        assert len(got) == min(int(limit), len(full)), name
        assert set(got) <= set(full), name
