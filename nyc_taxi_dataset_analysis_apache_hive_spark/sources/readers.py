"""Sources (SURVEY.md §2.1).

S1 -- CSV external-table scan.  The reference reads an HDFS CSV directory via
OpenCSVSerde with one header line skipped (REF:32-55).  Spark-native: a
schema'd CSV scan; no SerDe JAR (REF:13) needed.  Schema-on-read holds: no
data is touched until an action, and the scan node supports column pruning +
filter pushdown.

Parquet/ORC readers cover the driver's synthetic tables (TESTDATA.md) and the
cleaned-table round trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..schema import TESTDATA_SCHEMAS, TESTDATA_TABLES, TRIP_SCHEMA


def read_trips_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1: raw taxi CSV directory -> DataFrame with the declared schema.

    Mirrors CREATE EXTERNAL TABLE ss.ss_nyc (REF:32-55): ``,`` separator,
    one header row skipped, 17 typed columns.  Explicit schema (not
    inferSchema) so the scan is single-pass and types are the DDL's, avoiding
    the OpenCSVSerde all-strings trap (SURVEY §1.3).  Malformed rows -> NULL
    columns (PERMISSIVE), matching Hive's coercion-to-NULL behaviour.
    """
    return (
        spark.read.schema(TRIP_SCHEMA)
        .option("header", True)
        .option("sep", ",")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_trips_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar variant of S1 for parquet-materialised trip data."""
    return spark.read.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (``{sf_dir}/{name}.parquet``) with its
    declared schema, so the read runs no footer-inference job."""
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(
        f"{sf_dir.rstrip('/')}/{name}.parquet"
    )


#: documents-table schema for JSONL ingest, with the named corrupt-record
#: column appended (PERMISSIVE mode routes unparseable lines there).
_DOCUMENTS_JSONL_SCHEMA = StructType(
    TESTDATA_SCHEMAS["documents"].fields
    + [StructField("_corrupt_record", StringType())]
)


def read_documents_jsonl(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """JSONL corpus ingest -- the interchange format web-scale text
    corpora actually ship in (one JSON object per line; line-splittable,
    so the scan parallelizes like CSV).

    Explicit schema (default: the ``documents`` table plus a
    ``_corrupt_record`` column), never inference -- inference is a
    second full pass over 100 TB and type-drifts on partial corpora.
    PERMISSIVE + the named corrupt-record column is the DQ dead-letter
    posture (operators/expectations.py): an unparseable line becomes a
    row with every data column NULL and the raw line preserved in
    ``_corrupt_record``, so ingest never silently drops
    (DROPMALFORMED) nor dies corpus-wide on one bad byte (FAILFAST);
    route ``_corrupt_record IS NOT NULL`` rows to quarantine with one
    filter.  A field that parses but mismatches its declared type NULLs
    that field and keeps the line's raw text in the same column --
    Spark's per-field PERMISSIVE contract.

    Spark restriction worth knowing: a query whose ONLY referenced
    column is the corrupt-record column raises AnalysisException (the
    pruned scan would have nothing to fail on) -- ``cache()`` the frame
    before a corrupt-only count, or reference a data column alongside.
    """
    if schema is None:
        schema = _DOCUMENTS_JSONL_SCHEMA
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all driver tables and register them as temp views.

    The temp-view registration mirrors the reference's metastore catalog
    (``USE ss``, REF:18): every query can then be written against named
    tables in pure SQL as well as the DataFrame API.
    """
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
