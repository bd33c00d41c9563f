"""Canonical schemas (SURVEY.md §1.2-1.3).

The reference declares the raw taxi table schema explicitly (REF:32-55) and
re-declares it, reordered, for the cleaned ORC table (REF:251-258).  We keep
one StructType per table.  Per REF:26-29: IDs are strings, integers int,
floating points double.  Unlike Hive's OpenCSVSerde (which silently surfaces
every column as STRING), Spark's CSV reader honours this schema directly.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Raw trips table -- column order exactly as REF:34-50.
TRIP_SCHEMA = StructType(
    [
        StructField("vendorid", StringType()),
        StructField("tpep_pickup_datetime", TimestampType()),
        StructField("tpep_dropoff_datetime", TimestampType()),
        StructField("passenger_count", IntegerType()),
        StructField("trip_distance", DoubleType()),
        StructField("ratecodeid", StringType()),
        StructField("store_and_fwd_flag", StringType()),
        StructField("pulocationid", StringType()),
        StructField("dolocationid", StringType()),
        StructField("payment_type", StringType()),
        StructField("fare_amount", DoubleType()),
        StructField("extra", DoubleType()),
        StructField("mta_tax", DoubleType()),
        StructField("tip_amount", DoubleType()),
        StructField("tolls_amount", DoubleType()),
        StructField("improvement_surcharge", DoubleType()),
        StructField("total_amount", DoubleType()),
    ]
)

#: Cleaned table: raw columns reordered per REF:252-254 plus the partition
#: columns yr/mnth (REF:254, derived REF:263).
CLEAN_COLUMN_ORDER = [
    "vendorid",
    "tpep_pickup_datetime",
    "tpep_dropoff_datetime",
    "passenger_count",
    "trip_distance",
    "pulocationid",
    "dolocationid",
    "ratecodeid",
    "store_and_fwd_flag",
    "payment_type",
    "fare_amount",
    "extra",
    "mta_tax",
    "improvement_surcharge",
    "tip_amount",
    "tolls_amount",
    "total_amount",
]

CLEAN_SCHEMA = StructType(
    [next(f for f in TRIP_SCHEMA.fields if f.name == c) for c in CLEAN_COLUMN_ORDER]
    + [StructField("yr", IntegerType()), StructField("mnth", IntegerType())]
)

#: The synthetic testdata tables (TESTDATA.md), declared the way the
#: reference declares its table (REF:32-55): the parquet readers take these
#: instead of inferring each file's footer, which costs one Spark job per
#: load.  Types are the files' own (int32 -> int, int64 -> bigint,
#: timestamp[us] -> timestamp); ``tests/test_testdata_schemas.py`` pins
#: every field against the inferred schema at all three scale factors, since
#: a declared column the file lacks reads as silent NULLs.
TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}

#: table names in load order (used by the correctness registry and the
#: scale extensions)
TESTDATA_TABLES = list(TESTDATA_SCHEMAS)
