"""The reference's OWN declarative workload as Spark SQL text.

The reference is one HiveQL script (REF =
``Surabhi_Srinath_NYC_Taxi_Assignment_FInal.txt``: 39 SELECTs + 1 INSERT
OVERWRITE + 2 DDLs).  Every REF SELECT is spelled here once, as Spark
SQL (same subquery shapes and aliases), over two temp views --

* ``trips``       -- the raw table (REF ``ss.ss_nyc``, REF:32-55);
* ``trips_clean`` -- the cleaned table (REF ``ss_nyc_part_clustered``):
  ``etl.clean_trips`` over ``trips``, the INSERT OVERWRITE's SELECT
  (REF:261-269) whose keep-filter is ``etl.CLEAN_WHERE``.

Spark SQL is Hive-heritage: the REF text runs nearly verbatim --
``unix_timestamp`` arithmetic, ``percentile_approx``, the
``CAST(.. AS DECIMAL(10,2))`` window-share idiom, CASE segmentation all
parse unchanged.  tests/test_taxi_golden.py checks each statement
directly against an independent DuckDB oracle or a golden value derived
from the fixture's injection table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.etl import CLEAN_WHERE, HOUR_DIFF, clean_trips
from .session import apply_runtime_confs

#: REF:240-241 -- the 12-term OR dirty predicate (over the derived
#: hour_diff projection, exactly the REF:235-243 subquery shape).
_DIRTY_WHERE = """
    fare_amount < 0 OR tip_amount < 0
    OR (extra != 0.0D AND extra != 0.5D AND extra != 1.0D)
    OR passenger_count <= 0 OR tolls_amount < 0
    OR improvement_surcharge < 0 OR mta_tax < 0 OR total_amount < 0
    OR ratecodeid = '99' OR hour_diff < 0 OR hour_diff > 24
    OR year(tpep_pickup_datetime) != 2017
    OR NOT (month(tpep_pickup_datetime) IN (11, 12))
"""

#: name -> Spark SQL over the RAW view.  REF line cites beside each.
TAXI_SQL_RAW: dict[str, str] = {
    # REF:58 -- structure peek (LIMIT without ORDER BY: row choice free)
    "peek": "SELECT * FROM trips LIMIT 3",
    # REF:65-66
    "vendor_counts": """
        SELECT vendorid AS vendor, count(*) AS total
        FROM trips GROUP BY vendorid ORDER BY vendor
    """,
    # REF:71-73 -- the signature DECIMAL(10,2) percent-share idiom
    "vendor_pct": """
        SELECT vendorid, count(*) AS vendor_cnt,
               CAST(count(*) * 100 / sum(count(*)) OVER ()
                    AS DECIMAL(10,2)) AS vendorid_percent
        FROM trips GROUP BY vendorid ORDER BY vendorid
    """,
    # REF:80-83
    "date_range_by_vendor": """
        SELECT vendorid,
               min(tpep_pickup_datetime) AS min_pickup_time,
               min(tpep_dropoff_datetime) AS min_dropoff_time,
               max(tpep_pickup_datetime) AS max_pickup_time,
               max(tpep_dropoff_datetime) AS max_dropoff_time
        FROM trips GROUP BY vendorid ORDER BY vendorid
    """,
    # REF:87-91 -- derived-column subquery shape preserved
    "hour_diff_stats": f"""
        SELECT vendorid, min(hour_diff) AS minval, max(hour_diff) AS maxval,
               avg(hour_diff) AS average
        FROM (SELECT vendorid, {HOUR_DIFF} AS hour_diff FROM trips) hour_data
        GROUP BY vendorid ORDER BY vendorid
    """,
    # REF:93-98
    "invalid_duration_trips": f"""
        SELECT vendorid, hour_diff
        FROM (SELECT vendorid, {HOUR_DIFF} AS hour_diff FROM trips) hour_data
        WHERE hour_diff < 0 OR hour_diff > 24
    """,
    # REF:102-104
    "negative_tips": """
        SELECT vendorid, tip_amount FROM trips
        WHERE tip_amount < 0 ORDER BY tip_amount ASC
    """,
    # REF:108-110
    "negative_fares": """
        SELECT vendorid, fare_amount FROM trips
        WHERE fare_amount < 0 ORDER BY fare_amount ASC
    """,
    # REF:114-116 -- COUNT(col), the non-null-count variant
    "negative_fare_counts": """
        SELECT vendorid, count(fare_amount) AS cnt FROM trips
        WHERE fare_amount < 0 GROUP BY vendorid
    """,
    # REF:123-126
    "nonstandard_extra_distribution": """
        SELECT vendorid, extra, count(*) AS cnt FROM trips
        WHERE extra != 0.5D AND extra != 1.0D AND extra != 0.0D
        GROUP BY vendorid, extra ORDER BY vendorid
    """,
    # REF:132-135
    "nonstandard_extra_counts": """
        SELECT vendorid, count(*) AS cnt FROM trips
        WHERE extra != 0.5D AND extra != 1.0D AND extra != 0.0D
        GROUP BY vendorid ORDER BY vendorid
    """,
    # REF:140-142
    "nonpositive_passengers": """
        SELECT vendorid, passenger_count FROM trips
        WHERE passenger_count <= 0 ORDER BY passenger_count ASC
    """,
    # REF:148-151
    "zero_passenger_counts": """
        SELECT vendorid, passenger_count, count(passenger_count) AS cnt
        FROM trips WHERE passenger_count <= 0
        GROUP BY vendorid, passenger_count ORDER BY vendorid
    """,
    # REF:156-158
    "negative_toll_counts": """
        SELECT vendorid, count(tolls_amount) AS count_negative_tolls
        FROM trips WHERE tolls_amount < 0 GROUP BY vendorid
    """,
    # REF:163-165
    "negative_surcharge_counts": """
        SELECT vendorid,
               count(improvement_surcharge) AS count_negative_improvement_charge
        FROM trips WHERE improvement_surcharge < 0 GROUP BY vendorid
    """,
    # REF:170-173 (LIMIT sample)
    "negative_mta_sample": """
        SELECT vendorid, mta_tax FROM trips WHERE mta_tax < 0 LIMIT 5
    """,
    # REF:178-181
    "negative_mta_counts": """
        SELECT vendorid, count(*) AS no_of_records FROM trips
        WHERE mta_tax < 0 GROUP BY vendorid
    """,
    # REF:185-188 (LIMIT sample)
    "negative_total_sample": """
        SELECT vendorid, total_amount FROM trips WHERE total_amount < 0 LIMIT 5
    """,
    # REF:192-195
    "negative_total_counts": """
        SELECT vendorid, count(*) AS cnt FROM trips
        WHERE total_amount < 0 GROUP BY vendorid
    """,
    # REF:199-202
    "payment_type_distribution": """
        SELECT vendorid, payment_type, count(*) AS cnt FROM trips
        GROUP BY vendorid, payment_type ORDER BY vendorid
    """,
    # REF:206-209
    "store_fwd_distribution": """
        SELECT vendorid, store_and_fwd_flag, count(*) AS cnt FROM trips
        GROUP BY vendorid, store_and_fwd_flag ORDER BY vendorid
    """,
    # REF:214-217
    "ratecode_distribution": """
        SELECT vendorid, ratecodeid, count(*) AS cnt FROM trips
        GROUP BY vendorid, ratecodeid ORDER BY vendorid
    """,
    # REF:221-223
    "negative_distances": """
        SELECT vendorid, trip_distance FROM trips WHERE trip_distance < 0
    """,
    # REF:235-243 -- the combined dirty count, REF's subquery shape
    "dirty_row_counts": f"""
        SELECT vendorid, count(*) AS cnt
        FROM (SELECT trips.*, {HOUR_DIFF} AS hour_diff FROM trips) data_issues
        WHERE {_DIRTY_WHERE}
        GROUP BY vendorid ORDER BY vendorid
    """,
    # REF:229 analog -- rows the ETL keep-filter removes (clean polarity
    # negated; NULL-bearing rows count as removed -- 3-valued logic)
    "removed_row_counts": f"""
        SELECT vendorid, count(*) AS cnt FROM trips
        WHERE NOT coalesce(({CLEAN_WHERE}), false)
        GROUP BY vendorid ORDER BY vendorid
    """,
}

#: name -> Spark SQL over the CLEANED view (analysis surface, REF:286-390).
TAXI_SQL_CLEAN: dict[str, str] = {
    # REF:272-275 -- post-ETL validation, expected EMPTY
    "validate_clean": """
        SELECT * FROM trips_clean
        WHERE fare_amount < 0 OR tip_amount < 0
           OR (extra != 0.0D AND extra != 0.5D AND extra != 1.0D)
           OR passenger_count <= 0 OR tolls_amount < 0
           OR improvement_surcharge < 0 OR mta_tax < 0 OR total_amount < 0
           OR ratecodeid = '99'
           OR year(tpep_pickup_datetime) != 2017
           OR NOT (month(tpep_pickup_datetime) IN (11, 12))
    """,
    # REF:281-283
    "clean_vendor_counts": """
        SELECT vendorid, count(*) AS cnt FROM trips_clean
        GROUP BY vendorid ORDER BY vendorid
    """,
    # REF:292-293
    "avg_fare_by_month": """
        SELECT mnth, round(avg(fare_amount), 2) AS avg FROM trips_clean
        GROUP BY mnth ORDER BY mnth
    """,
    # REF:298-300
    "passenger_count_pct": """
        SELECT passenger_count AS level, count(*) AS number_of_trips,
               CAST(count(*) * 100 / sum(count(*)) OVER ()
                    AS DECIMAL(10,2)) AS pct_number_of_trips
        FROM trips_clean GROUP BY passenger_count
        ORDER BY number_of_trips DESC, pct_number_of_trips DESC
    """,
    # REF:304-306
    "payment_type_pct": """
        SELECT payment_type AS paymt_type, count(*) AS paymt_cnt,
               CAST(count(*) * 100 / sum(count(*)) OVER ()
                    AS DECIMAL(10,2)) AS pct_paymt_cnt
        FROM trips_clean GROUP BY payment_type
        ORDER BY paymt_cnt DESC, pct_paymt_cnt DESC
    """,
    # REF:315
    "avg_tip": """
        SELECT round(avg(tip_amount), 2) AS avg_tip FROM trips_clean
    """,
    # REF:318 -- percentile_approx, the REF's own function (one mergeable
    # sketch pass, no global sort); checked against DuckDB's exact
    # quantile_cont within the sketch's accuracy
    "tip_percentiles": """
        SELECT percentile_approx(tip_amount, array(0.25D, 0.50D, 0.75D))
                 AS tip_percentiles
        FROM trips_clean
    """,
    # REF:324-326 -- the implicit cross join of two scalar aggregates
    "extra_charge_fraction": """
        SELECT round(extra / total, 2) AS pct_trips_with_extra_charge
        FROM (SELECT count(*) AS extra FROM trips_clean WHERE extra > 0)
        CROSS JOIN (SELECT count(*) AS total FROM trips_clean)
    """,
    # REF:335
    "corr_passengers_tip": """
        SELECT round(corr(passenger_count, tip_amount), 2)
                 AS corr_passenger_tip
        FROM trips_clean
    """,
    # REF:340-342
    "avg_tip_by_passenger_count": """
        SELECT passenger_count AS level, avg(tip_amount) AS avg_tip_amt
        FROM trips_clean GROUP BY passenger_count ORDER BY avg_tip_amt DESC
    """,
    # REF:349-361 -- CASE segmentation + percent share
    "tip_segment_pct": """
        SELECT tip_segment,
               CAST(count(*) * 100 / sum(count(*)) OVER ()
                    AS DECIMAL(10,2)) AS tip_segment_percent
        FROM (
          SELECT CASE
            WHEN tip_amount < 5 THEN '[0-5)'
            WHEN tip_amount >= 5 AND tip_amount < 10 THEN '[5-10)'
            WHEN tip_amount >= 10 AND tip_amount < 15 THEN '[10-15)'
            WHEN tip_amount >= 15 AND tip_amount < 20 THEN '[15-20)'
            ELSE '>=20' END AS tip_segment
          FROM trips_clean
        ) segregated
        GROUP BY tip_segment ORDER BY tip_segment_percent DESC
    """,
    # REF:368-371
    "avg_speed_by_month": f"""
        SELECT mnth,
               round(avg(trip_distance / ({HOUR_DIFF})), 2)
                 AS avg_speed_per_hour
        FROM trips_clean GROUP BY mnth ORDER BY avg_speed_per_hour
    """,
    # REF:377-379
    "avg_speed_2017": f"""
        SELECT round(avg(trip_distance / ({HOUR_DIFF})), 2)
                 AS avg_speed_in_2017
        FROM trips_clean WHERE year(tpep_pickup_datetime) = 2017
    """,
    # REF:383-386 -- mnth conjunct hits the partition column
    "avg_speed_holidays": f"""
        SELECT CAST(tpep_pickup_datetime AS DATE) AS pickup_date,
               round(avg(trip_distance / ({HOUR_DIFF})), 2)
                 AS avg_speed_per_hour
        FROM trips_clean
        WHERE mnth IN (12) AND day(tpep_pickup_datetime) IN (25, 31)
        GROUP BY pickup_date ORDER BY pickup_date
    """,
}

#: LIMIT-without-ORDER-BY statements: the REF pattern leaves the row
#: choice to the engine, so their check is row COUNT + predicate
#: membership, not value identity.
NONDETERMINISTIC_SAMPLES = frozenset(
    {"peek", "negative_mta_sample", "negative_total_sample"}
)

ALL_TAXI_SQL: dict[str, str] = {**TAXI_SQL_RAW, **TAXI_SQL_CLEAN}


def register_taxi_views(spark: SparkSession, trips: DataFrame) -> None:
    """Register the reference's two-table catalog: the raw ``trips`` view
    and ``trips_clean``, the lazy ``etl.clean_trips`` plan over it
    (evaluated per query, which equals querying the materialized table
    since the transform is deterministic)."""
    apply_runtime_confs(spark)
    trips.createOrReplaceTempView("trips")
    clean_trips(trips).createOrReplaceTempView("trips_clean")


def run_taxi_sql(spark: SparkSession, name: str) -> DataFrame:
    """Run one reference statement (views must be registered first)."""
    return spark.sql(ALL_TAXI_SQL[name])
