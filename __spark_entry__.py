"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the correctness-gate registry defined in
``nyc_taxi_dataset_analysis_apache_hive_spark.registry`` (one entry per
SURVEY.md §2 operator plus the training-data-pipeline extensions).

The reference's own HiveQL workload runs as Spark SQL text in
``taxi_sql``; tests/test_taxi_golden.py checks each statement against a
DuckDB oracle or a fixture golden.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark import registry
from nyc_taxi_dataset_analysis_apache_hive_spark.session import apply_runtime_confs
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pricing-summary aggregate over lineitem (the reference's
    scan -> derive -> filter -> aggregate -> sort shape, REF:65-91 family,
    at TPC-H Q1 altitude)."""
    apply_runtime_confs(spark)
    li = load_table(spark, SF0001, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query -- since round 6 every one of the
    50 entries carries an oracle (engine-specific estimates self-validate
    in-plane via approx_ok booleans the oracle expects to be true)."""
    return dict(registry.ORACLES)
