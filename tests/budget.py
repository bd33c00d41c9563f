"""Structural budget of the registry at sf0.001: per entry, counts that do
not move with machine load.

* ``jobs`` / ``stages``: Spark jobs run by the entry call plus the collect of
  its result, and the stages among them that ran a task (by job-ID window).
* ``scans``: "Scan parquet" nodes across the SQL executions in that window,
  from the SQL status store (kept with the UI off).
* ``build_calls``: py4j calls made by the entry call, memory-delete commands
  left out (Python's GC sends one per freed Java proxy, whenever it runs).

``tests/test_oracle_parity.py`` checks ``budget_sf0001.json`` exactly for
jobs, stages and scans and within max(1%, 5) for build_calls.  After an
intended plan change, regenerate it with ``python tests/budget.py``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
from contextlib import contextmanager

import py4j.clientserver as _cs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import SparkCounters  # noqa: E402

BUDGET_PATH = os.path.join(ROOT, "tests", "budget_sf0001.json")
EXACT = ("jobs", "stages", "scans")
#: py4j memory command + delete subcommand (py4j.protocol)
_DELETE = "m\nd\n"


@contextmanager
def _count_calls():
    """py4j calls sent from any thread inside the block, memory deletes
    excluded; yields a one-item list holding the count."""
    n, lock = [0], threading.Lock()
    orig = _cs.ClientServerConnection.send_command

    def send_command(conn, command):
        if not command.startswith(_DELETE):
            with lock:
                n[0] += 1
        return orig(conn, command)

    _cs.ClientServerConnection.send_command = send_command
    try:
        yield n
    finally:
        _cs.ClientServerConnection.send_command = orig


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _scan_nodes(store, after: int, upto: int) -> int:
    """Parquet scan nodes over SQL executions ``after < id <= upto``."""
    total = 0
    for eid in range(after + 1, upto + 1):
        if store.execution(eid).isEmpty():
            continue
        nodes = store.planGraph(eid).allNodes()
        total += sum(
            nodes.apply(i).name().startswith("Scan parquet")
            for i in range(nodes.size())
        )
    return total


def warm(spark, sf_dir: str) -> None:
    """One untimed registry query: the first query of a fresh session makes
    one-off py4j calls (a3's build: 73 calls first, 68 after)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark import registry

    registry.QUERIES["a1_group_count"](spark, sf_dir).collect()


def measure(spark, query, sf_dir: str, consume):
    """Call ``query(spark, sf_dir)`` and ``consume`` the DataFrame it returns
    on a cleared cache; return ``(consume's result, counts)``."""
    spark.catalog.clearCache()
    jobs = SparkCounters(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    job0, exec0 = jobs.last_job_id(), _last_execution_id(store)
    with _count_calls() as calls:
        df = query(spark, sf_dir)
    out = consume(df)
    window = jobs.window(job0, jobs.last_job_id())  # drains the listener bus
    return out, {
        "jobs": window["jobs"],
        "stages": window["stages"],
        "scans": _scan_nodes(store, exec0, _last_execution_id(store)),
        "build_calls": calls[0],
    }


def load() -> dict[str, dict[str, int]]:
    with open(BUDGET_PATH) as f:
        return json.load(f)


def misses(name: str, counts: dict[str, int], budget: dict) -> list[str]:
    """One message per field of ``counts`` outside ``name``'s budget."""
    want = budget.get(name)
    if want is None:
        return [f"{name}: no budget entry (python tests/budget.py)"]
    out = [
        f"{name}.{f}: {counts[f]} != budget {want[f]}"
        for f in EXACT
        if counts[f] != want[f]
    ]
    got, exp = counts["build_calls"], want["build_calls"]
    if abs(got - exp) > max(0.01 * exp, 5):
        out.append(f"{name}.build_calls: {got} outside budget {exp} +- max(1%, 5)")
    return out


def main() -> None:
    import __spark_entry__ as entry_mod
    from tests.conftest import SF0001, make_spark
    from tests.parity import compare, duckdb_conn

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_conn(SF0001)
    warm(spark, SF0001)
    budget = {}
    for name in sorted(oracles):
        problems, budget[name] = measure(
            spark,
            queries[name],
            SF0001,
            lambda df: compare(df, con, oracles[name], name),
        )
        if problems:
            raise SystemExit("\n".join(problems))
    with open(BUDGET_PATH, "w") as f:
        json.dump(budget, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(budget)} entries to {BUDGET_PATH}")


if __name__ == "__main__":
    main()
