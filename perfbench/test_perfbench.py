"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start a real Spark session per workload (about a minute
each on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.trips_csv_dir(str(tmp_path / "a"), 5, 3000)
    b = gen.trips_csv_dir(str(tmp_path / "b"), 5, 3000)
    c = gen.trips_csv_dir(str(tmp_path / "c"), 6, 3000)
    a, b, c = (os.path.join(d, "trips.csv") for d in (a, b, c))
    assert filecmp.cmp(a, b, shallow=False)
    assert not filecmp.cmp(a, c, shallow=False)


def test_generator_counts_match_the_table():
    counts = gen.TripCounts(3000)
    pdf = gen.build_trips(5, counts)
    for vendor in ("1", "2"):
        assert (pdf["vendorid"] == vendor).sum() == counts.total_rows(vendor)
    zero = pdf["passenger_count"] <= 0
    assert zero.sum() == sum(counts.category("zero_passenger").values())


def test_spec_names_and_units():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64
        assert m["unit"] == run.unit_of(m["name"])
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.WORKLOADS)


def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--rows", "2000",
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_is_correct_and_complete(workload):
    result, text = _run(workload, trace=1)
    assert result["correct"] and result["failed"] == 0, text
    assert result["attempted"] >= 1
    assert "error_rate" in text
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for line in text.splitlines()[1:-1]:
        fields = line.split()
        if len(fields) == 3 and NAME.fullmatch(fields[0]):
            assert fields[2] in ("s", "MB", "B", "us", "ratio", "count")


def test_untraced_run_prints_the_end_to_end_metrics():
    result, _ = _run("registry_sf0001", trace=0)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "taxi_hiveql",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
