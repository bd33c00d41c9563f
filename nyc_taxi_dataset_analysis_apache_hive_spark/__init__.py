"""PySpark-native analytics engine replicating the query/data-processing
capability surface of SurabhiKhare97/NYC-Taxi-Dataset-Analysis-Apache-Hive.

The reference (``/root/reference/Surabhi_Srinath_NYC_Taxi_Assignment_FInal.txt``,
abbreviated ``REF`` in docstrings) is a 49-statement HiveQL workload over NYC
Yellow Taxi (TPEP) data.  This package re-expresses every operator it exercises
-- and the scale extensions a 100-TB training-data pipeline needs -- as
idiomatic PySpark DataFrame / Spark SQL programs, so Catalyst + Tungsten own
optimization and physical execution (zero row-level Python in the core path).

Layout:
    session.py    SparkSession factory (UTC, AQE, dynamic partition overwrite)
    schema.py     TRIP_SCHEMA / CLEAN_SCHEMA (REF:32-55, REF:251-258)
    sources/      readers (CSV external-table analog, parquet) + writers
    taxi_sql.py   the reference's 39 SELECTs as Spark SQL over trips/trips_clean
    functions/    shared expression builders (epoch_bin, local relations, text)
    operators/    ETL, dedup, similarity, sketches, sampling, text ops
    plans/        plan-inspection helpers (pushdown / codegen / join checks)
    streaming/    Structured Streaming over the events table
"""

__version__ = "0.1.0"
