"""Golden-value + DuckDB-parity tests for the taxi surface (SURVEY.md §5).

Replays the reference's de-facto test corpus (expected-value comments beside
each query) against the deterministic synthetic fixture.  Every statement of
``taxi_sql`` runs as written, over the ``trips`` / ``trips_clean`` views, and
is checked directly against an independent reference: an order-insensitive
DuckDB oracle (every DQ check REF:60-243 and analysis query REF:286-390, also
on a zero-row and a one-row copy of the fixture), a golden value hand-derived
from the fixture's injection table, or -- for the three LIMIT samples -- row
count plus membership in the predicate's row set.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
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

from tests.parity import compare, rows_from_duckdb, rows_from_spark
from tests.taxi_fixture import (
    DIRTY,
    N_CLEAN,
    dirty_count,
    removed_count,
    total_count,
    write_fixture,
)

HOUR_DIFF_SQL = (
    "(epoch(tpep_dropoff_datetime) - epoch(tpep_pickup_datetime)) / 3600"
)

#: conjunctive clean filter, the REF:268-269 form (NULLs drop out).
CLEAN_WHERE = f"""
    fare_amount >= 0 AND tip_amount >= 0
    AND extra IN (0.0, 0.5, 1.0)
    AND passenger_count > 0
    AND tolls_amount >= 0 AND improvement_surcharge >= 0
    AND mta_tax >= 0 AND total_amount >= 0
    AND ratecodeid <> '99'
    AND year(tpep_pickup_datetime) = 2017
    AND month(tpep_pickup_datetime) IN (11, 12)
    AND {HOUR_DIFF_SQL} >= 0 AND {HOUR_DIFF_SQL} <= 24
"""

#: the fixture, plus two degenerate copies of it with the same schema
INPUTS = {"full": None, "zero_rows": 0, "one_row": 1}


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    """label -> trips parquet path; the degenerate copies are written with
    pyarrow from the fixture's first rows."""
    full = write_fixture(str(tmp_path_factory.mktemp("taxi")))
    table = pq.read_table(full["parquet"])
    paths = {"full": full["parquet"], "csv": full["csv"]}
    for label, n in INPUTS.items():
        if n is not None:
            p = str(tmp_path_factory.mktemp(f"taxi_{label}") / "trips.parquet")
            pq.write_table(table.slice(0, n), p)
            paths[label] = p
    return paths


@pytest.fixture(scope="module")
def cons(inputs):
    """label -> DuckDB connection with the ``trips`` and ``clean`` views."""
    out = {}
    for label in INPUTS:
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW trips AS SELECT * FROM read_parquet('{inputs[label]}')"
        )
        con.execute(
            "CREATE VIEW clean AS SELECT *,"
            " CAST(year(tpep_pickup_datetime) AS INT) AS yr,"
            " CAST(month(tpep_pickup_datetime) AS INT) AS mnth"
            f" FROM trips WHERE {CLEAN_WHERE}"
        )
        out[label] = con
    yield out
    for con in out.values():
        con.close()


def _register(spark, inputs, label):
    """Point the ``trips`` / ``trips_clean`` views at one input."""
    taxi_sql.register_taxi_views(spark, read_trips_parquet(spark, inputs[label]))


@pytest.fixture
def run(spark, inputs):
    """Run a statement over the full fixture."""
    _register(spark, inputs, "full")
    return lambda name: taxi_sql.run_taxi_sql(spark, name)


@pytest.fixture(scope="module")
def trips(spark, inputs):
    return read_trips_parquet(spark, inputs["full"])


@pytest.fixture(scope="module")
def clean(trips):
    return etl.clean_trips(trips)


# ---------------------------------------------------------------------------
# Hand-derived golden counts (the SURVEY §5 corpus shape, fixture values)
# ---------------------------------------------------------------------------

#: statements checked only by a golden value (no DuckDB oracle below)
GOLDEN_ONLY = frozenset(
    {"removed_row_counts", "validate_clean", "clean_vendor_counts", "tip_percentiles"}
)


def _as_map(df, key_col, val_col):
    return {r[key_col]: r[val_col] for r in df.collect()}


def _per_vendor(df):
    return _as_map(df.groupBy("vendorid").count(), "vendorid", "count")


def test_vendor_counts_golden(run):
    got = _as_map(run("vendor_counts"), "vendor", "total")
    assert got == {v: total_count(v) for v in ("1", "2")}


def test_dirty_row_counts_golden(run):
    got = _as_map(run("dirty_row_counts"), "vendorid", "cnt")
    assert got == {v: dirty_count(v) for v in ("1", "2")}


def test_removed_vs_dirty_distinguishes_nulls(run):
    """NULL rows are removed by the clean filter but NOT dirty-matched."""
    got = _as_map(run("removed_row_counts"), "vendorid", "cnt")
    assert got == {v: removed_count(v) for v in ("1", "2")}
    assert any(removed_count(v) != dirty_count(v) for v in ("1", "2"))


def test_clean_counts_golden(run):
    got = _as_map(run("clean_vendor_counts"), "vendorid", "cnt")
    assert got == dict(N_CLEAN)


def test_validate_clean_empty(run):
    assert run("validate_clean").count() == 0


def test_negative_distances_empty(run):
    assert run("negative_distances").count() == 0


@pytest.mark.parametrize(
    "check,category",
    [
        ("negative_tips", "neg_tip"),
        ("negative_fares", "neg_fare"),
        ("nonpositive_passengers", "zero_passenger"),
    ],
)
def test_negative_row_checks_golden(run, check, category):
    assert _per_vendor(run(check)) == DIRTY[category]


def test_invalid_duration_golden(run):
    expected = {
        v: DIRTY["neg_duration"].get(v, 0) + DIRTY["long_duration"].get(v, 0)
        for v in ("1", "2")
    }
    assert _per_vendor(run("invalid_duration_trips")) == expected


def test_count_col_skips_nulls(run):
    """A2: COUNT(col) vs COUNT(*) -- null_tolls rows must not be counted."""
    # All negative-toll rows are vendor 2 by construction; the vendor-1
    # NULL-toll row is neither negative nor counted.
    got = _as_map(run("negative_toll_counts"), "vendorid", "count_negative_tolls")
    assert got == DIRTY["neg_tolls"]


def test_tip_percentiles_default_is_approx_and_tracks_exact(run, cons):
    """The statement takes the sketch path (REF:318's percentile_approx:
    mergeable, one pass, no global sort) and must track DuckDB's exact
    interpolated percentile within the sketch's accuracy."""
    [got] = run("tip_percentiles").collect()
    [exact] = cons["full"].execute(
        "SELECT [quantile_cont(tip_amount, 0.25), "
        "quantile_cont(tip_amount, 0.50), "
        "quantile_cont(tip_amount, 0.75)] FROM clean"
    ).fetchone()
    p25, p50, p75 = got["tip_percentiles"]
    assert 0 <= p25 <= p50 <= p75
    for a, x in zip(got["tip_percentiles"], exact):
        assert a == pytest.approx(x, rel=0.02, abs=0.05), (a, x)


#: LIMIT sample -> (its LIMIT, the DuckDB query for the rows it may return)
SAMPLE_SETS = {
    "peek": (3, "SELECT * FROM trips"),
    "negative_mta_sample": (5, "SELECT vendorid, mta_tax FROM trips WHERE mta_tax < 0"),
    "negative_total_sample": (
        5,
        "SELECT vendorid, total_amount FROM trips WHERE total_amount < 0",
    ),
}


def test_samples_respect_limit(spark, inputs, cons):
    """REF writes LIMIT without ORDER BY, so the engine picks the rows: the
    deterministic part of the contract is the row count and that every
    returned row comes FROM the predicate's row set, on every input."""
    for label in INPUTS:
        _register(spark, inputs, label)
        for name, (limit, sql) in SAMPLE_SETS.items():
            got, got_cols = rows_from_spark(taxi_sql.run_taxi_sql(spark, name))
            full, full_cols = rows_from_duckdb(cons[label], sql)
            assert got_cols == full_cols, (label, name)
            assert len(got) == min(limit, len(full)), (label, name)
            assert set(got) <= set(full), (label, name)


def test_every_statement_has_an_independent_check():
    """Each of the reference's 39 SELECTs is checked above or below: by a
    DuckDB oracle, a golden value, or the LIMIT-sample contract.  A new
    statement without one fails here."""
    oracled = set(QUALITY_ORACLES) | set(ANALYSIS_ORACLES)
    assert set(QUALITY_ORACLES) <= set(taxi_sql.TAXI_SQL_RAW)
    assert set(ANALYSIS_ORACLES) <= set(taxi_sql.TAXI_SQL_CLEAN)
    assert set(taxi_sql.ALL_TAXI_SQL) == (
        oracled | GOLDEN_ONLY | taxi_sql.NONDETERMINISTIC_SAMPLES
    )
    assert set(SAMPLE_SETS) == taxi_sql.NONDETERMINISTIC_SAMPLES
    assert len(taxi_sql.ALL_TAXI_SQL) == 39


def _cases(oracles):
    """(input, statement) pairs; the full fixture keeps the bare id."""
    return [
        pytest.param(label, name, id=name if label == "full" else f"{label}-{name}")
        for label in INPUTS
        for name in sorted(oracles)
    ]


def _check_parity(spark, inputs, cons, label, name, sql):
    _register(spark, inputs, label)
    df = taxi_sql.run_taxi_sql(spark, name)
    problems = compare(df, cons[label], sql, name, float_tol=1e-9)
    assert not problems, "\n".join(problems)
    if label == "full" and name != "negative_distances":
        # every other statement selects rows on the fixture: an empty
        # match on both engines would prove nothing
        assert rows_from_duckdb(cons[label], sql)[0], f"{name}: empty on fixture"


# ---------------------------------------------------------------------------
# DuckDB parity: every DQ check (REF:60-243)
# ---------------------------------------------------------------------------

QUALITY_ORACLES = {
    "vendor_counts": (
        "SELECT vendorid AS vendor, count(*) AS total FROM trips "
        "GROUP BY vendorid"
    ),
    "vendor_pct": (
        "SELECT vendorid, count(*) AS vendor_cnt, "
        "CAST(count(*) * 100.0 / sum(count(*)) OVER () AS DECIMAL(10,2)) "
        "AS vendorid_percent FROM trips GROUP BY vendorid"
    ),
    "date_range_by_vendor": (
        "SELECT vendorid, min(tpep_pickup_datetime) AS min_pickup_time, "
        "min(tpep_dropoff_datetime) AS min_dropoff_time, "
        "max(tpep_pickup_datetime) AS max_pickup_time, "
        "max(tpep_dropoff_datetime) AS max_dropoff_time "
        "FROM trips GROUP BY vendorid"
    ),
    "hour_diff_stats": (
        f"SELECT vendorid, min({HOUR_DIFF_SQL}) AS minval, "
        f"max({HOUR_DIFF_SQL}) AS maxval, avg({HOUR_DIFF_SQL}) AS average "
        "FROM trips GROUP BY vendorid"
    ),
    "invalid_duration_trips": (
        f"SELECT vendorid, {HOUR_DIFF_SQL} AS hour_diff FROM trips "
        f"WHERE {HOUR_DIFF_SQL} < 0 OR {HOUR_DIFF_SQL} > 24"
    ),
    "negative_tips": (
        "SELECT vendorid, tip_amount FROM trips WHERE tip_amount < 0"
    ),
    "negative_fares": (
        "SELECT vendorid, fare_amount FROM trips WHERE fare_amount < 0"
    ),
    "negative_fare_counts": (
        "SELECT vendorid, count(fare_amount) AS cnt FROM trips "
        "WHERE fare_amount < 0 GROUP BY vendorid"
    ),
    "nonstandard_extra_distribution": (
        "SELECT vendorid, extra, count(*) AS cnt FROM trips "
        "WHERE extra NOT IN (0.0, 0.5, 1.0) GROUP BY vendorid, extra"
    ),
    "nonstandard_extra_counts": (
        "SELECT vendorid, count(*) AS cnt FROM trips "
        "WHERE extra NOT IN (0.0, 0.5, 1.0) GROUP BY vendorid"
    ),
    "nonpositive_passengers": (
        "SELECT vendorid, passenger_count FROM trips WHERE passenger_count <= 0"
    ),
    "zero_passenger_counts": (
        "SELECT vendorid, passenger_count, count(passenger_count) AS cnt "
        "FROM trips WHERE passenger_count <= 0 GROUP BY vendorid, passenger_count"
    ),
    "negative_toll_counts": (
        "SELECT vendorid, count(tolls_amount) AS count_negative_tolls "
        "FROM trips WHERE tolls_amount < 0 GROUP BY vendorid"
    ),
    "negative_surcharge_counts": (
        "SELECT vendorid, count(improvement_surcharge) AS "
        "count_negative_improvement_charge FROM trips "
        "WHERE improvement_surcharge < 0 GROUP BY vendorid"
    ),
    "negative_mta_counts": (
        "SELECT vendorid, count(*) AS no_of_records FROM trips "
        "WHERE mta_tax < 0 GROUP BY vendorid"
    ),
    "negative_total_counts": (
        "SELECT vendorid, count(*) AS cnt FROM trips "
        "WHERE total_amount < 0 GROUP BY vendorid"
    ),
    "payment_type_distribution": (
        "SELECT vendorid, payment_type, count(*) AS cnt FROM trips "
        "GROUP BY vendorid, payment_type"
    ),
    "store_fwd_distribution": (
        "SELECT vendorid, store_and_fwd_flag, count(*) AS cnt FROM trips "
        "GROUP BY vendorid, store_and_fwd_flag"
    ),
    "ratecode_distribution": (
        "SELECT vendorid, ratecodeid, count(*) AS cnt FROM trips "
        "GROUP BY vendorid, ratecodeid"
    ),
    "negative_distances": (
        "SELECT vendorid, trip_distance FROM trips WHERE trip_distance < 0"
    ),
    "dirty_row_counts": (
        "SELECT vendorid, count(*) AS cnt FROM trips WHERE "
        "fare_amount < 0 OR tip_amount < 0 "
        "OR extra NOT IN (0.0, 0.5, 1.0) OR passenger_count <= 0 "
        "OR tolls_amount < 0 OR improvement_surcharge < 0 OR mta_tax < 0 "
        "OR total_amount < 0 OR ratecodeid = '99' "
        f"OR {HOUR_DIFF_SQL} < 0 OR {HOUR_DIFF_SQL} > 24 "
        "OR year(tpep_pickup_datetime) <> 2017 "
        "OR month(tpep_pickup_datetime) NOT IN (11, 12) "
        "GROUP BY vendorid"
    ),
}


@pytest.mark.parametrize("label,name", _cases(QUALITY_ORACLES))
def test_quality_check_parity(spark, inputs, cons, label, name):
    _check_parity(spark, inputs, cons, label, name, QUALITY_ORACLES[name])


# ---------------------------------------------------------------------------
# DuckDB parity: analysis queries over the cleaned table (REF:286-390)
# ---------------------------------------------------------------------------

ANALYSIS_ORACLES = {
    "avg_fare_by_month": (
        "SELECT mnth, round(avg(fare_amount), 2) AS avg FROM clean GROUP BY mnth"
    ),
    "passenger_count_pct": (
        "SELECT passenger_count AS level, count(*) AS number_of_trips, "
        "CAST(count(*) * 100.0 / sum(count(*)) OVER () AS DECIMAL(10,2)) "
        "AS pct_number_of_trips FROM clean GROUP BY passenger_count"
    ),
    "payment_type_pct": (
        "SELECT payment_type AS paymt_type, count(*) AS paymt_cnt, "
        "CAST(count(*) * 100.0 / sum(count(*)) OVER () AS DECIMAL(10,2)) "
        "AS pct_paymt_cnt FROM clean GROUP BY payment_type"
    ),
    "avg_tip": "SELECT round(avg(tip_amount), 2) AS avg_tip FROM clean",
    "extra_charge_fraction": (
        "SELECT round(CAST(a.extra AS DOUBLE) / b.total, 2) "
        "AS pct_trips_with_extra_charge FROM "
        "(SELECT count(*) AS extra FROM clean WHERE extra > 0) a, "
        "(SELECT count(*) AS total FROM clean) b"
    ),
    "corr_passengers_tip": (
        "SELECT round(corr(passenger_count, tip_amount), 2) "
        "AS corr_passenger_tip FROM clean"
    ),
    "avg_tip_by_passenger_count": (
        "SELECT passenger_count AS level, avg(tip_amount) AS avg_tip_amt "
        "FROM clean GROUP BY passenger_count"
    ),
    "tip_segment_pct": (
        "SELECT CASE WHEN tip_amount < 5 THEN '[0-5)' "
        "WHEN tip_amount >= 5 AND tip_amount < 10 THEN '[5-10)' "
        "WHEN tip_amount >= 10 AND tip_amount < 15 THEN '[10-15)' "
        "WHEN tip_amount >= 15 AND tip_amount < 20 THEN '[15-20)' "
        "ELSE '>=20' END AS tip_segment, "
        "CAST(count(*) * 100.0 / sum(count(*)) OVER () AS DECIMAL(10,2)) "
        "AS tip_segment_percent FROM clean GROUP BY tip_segment"
    ),
    "avg_speed_by_month": (
        "SELECT mnth, round(avg(trip_distance / "
        f"nullif({HOUR_DIFF_SQL}, 0)), 2) AS avg_speed_per_hour "
        "FROM clean GROUP BY mnth"
    ),
    "avg_speed_2017": (
        "SELECT round(avg(trip_distance / "
        f"nullif({HOUR_DIFF_SQL}, 0)), 2) AS avg_speed_in_2017 "
        "FROM clean WHERE year(tpep_pickup_datetime) = 2017"
    ),
    "avg_speed_holidays": (
        "SELECT CAST(tpep_pickup_datetime AS DATE) AS pickup_date, "
        "round(avg(trip_distance / "
        f"nullif({HOUR_DIFF_SQL}, 0)), 2) AS avg_speed_per_hour "
        "FROM clean WHERE mnth = 12 "
        "AND day(tpep_pickup_datetime) IN (25, 31) "
        "GROUP BY CAST(tpep_pickup_datetime AS DATE)"
    ),
}


@pytest.mark.parametrize("label,name", _cases(ANALYSIS_ORACLES))
def test_analysis_parity(spark, inputs, cons, label, name):
    _check_parity(spark, inputs, cons, label, name, ANALYSIS_ORACLES[name])


# ---------------------------------------------------------------------------
# Sources: CSV scan parity (S1) and the partitioned ETL sink (S2/S3)
# ---------------------------------------------------------------------------


def test_csv_parquet_scan_parity(spark, inputs, trips):
    """S1: schema'd CSV read reproduces the parquet contents exactly."""
    csv_df = read_trips_csv(spark, inputs["csv"])
    assert [f.simpleString() for f in csv_df.schema.fields] == [
        f.simpleString() for f in trips.schema.fields
    ]
    key = [
        "vendorid",
        "tpep_pickup_datetime",
        "fare_amount",
        "tip_amount",
        "total_amount",
    ]
    csv_rows = sorted(map(tuple, csv_df.select(*key).collect()))
    pq_rows = sorted(map(tuple, trips.select(*key).collect()))
    assert csv_rows == pq_rows


def test_partitioned_write_roundtrip(spark, clean, tmp_path):
    """S3: dynamic-partition write produces yr=/mnth= dirs and round-trips."""
    out = str(tmp_path / "clean_out")
    write_clean_partitioned(clean, out)
    assert sorted(
        d for d in os.listdir(out) if d.startswith("yr=")
    ) == ["yr=2017"]
    months = sorted(os.listdir(os.path.join(out, "yr=2017")))
    assert months == ["mnth=11", "mnth=12"]
    back = spark.read.parquet(out)
    assert back.count() == clean.count()
    # partition pruning: a mnth filter must scan only the Dec directory
    plan = back.filter("mnth = 12")._jdf.queryExecution().executedPlan().toString()
    assert "mnth=11" not in plan


def test_dynamic_partition_overwrite_preserves_other_partition(
    spark, clean, tmp_path
):
    """Dynamic mode (REF:4-10 analog): overwriting December must not delete
    November."""
    out = str(tmp_path / "clean_dyn")
    write_clean_partitioned(clean, out)
    nov_before = spark.read.parquet(out).filter("mnth = 11").count()
    dec_only = spark.read.parquet(out).filter("mnth = 12").limit(10)
    dec_only.write.mode("overwrite").partitionBy("yr", "mnth").parquet(out)
    assert spark.read.parquet(out).filter("mnth = 11").count() == nov_before
    assert spark.read.parquet(out).filter("mnth = 12").count() == 10
