"""Local replica of the driver's Spark-vs-DuckDB comparison: row count +
schema-width + order-insensitive value comparison, with a strict mode that
flags float values that are not bit-identical (a hash-mismatch risk)."""

from __future__ import annotations

import math
from typing import Any

import duckdb

from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # Decimals, dates, datetimes -> canonical string
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return float(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def rows_from_spark(df) -> list[tuple]:
    cols = sorted(df.columns)
    return [tuple(_norm(r[c]) for c in cols) for r in df.collect()], cols


def rows_from_duckdb(con, sql: str) -> list[tuple]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in cur.fetchall()]
    return rows, sorted(names)


def compare(spark_df, con, sql: str, name: str, float_tol: float = 0.0) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    s_rows, s_cols = rows_from_spark(spark_df)
    d_rows, d_cols = rows_from_duckdb(con, sql)
    if s_cols != d_cols:
        problems.append(f"{name}: column names differ: spark={s_cols} duckdb={d_cols}")
        return problems
    if len(s_rows) != len(d_rows):
        problems.append(
            f"{name}: row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
        )
    key = lambda t: tuple(  # noqa: E731
        (x is None, str(type(x)), x if not isinstance(x, tuple) else str(x))
        for x in t
    )
    s_sorted = sorted(s_rows, key=key)
    d_sorted = sorted(d_rows, key=key)
    n_diff = 0
    for sr, dr in zip(s_sorted, d_sorted):
        if sr != dr:
            if float_tol > 0 and _close(sr, dr, float_tol):
                continue
            n_diff += 1
            if n_diff <= 3:
                problems.append(f"{name}: row differs:\n  spark : {sr}\n  duckdb: {dr}")
    if n_diff > 3:
        problems.append(f"{name}: ... {n_diff} differing rows total")
    return problems


def _close(a: tuple, b: tuple, tol: float) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=tol, abs_tol=tol):
                return False
        elif x != y:
            return False
    return True

