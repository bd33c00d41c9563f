#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (small on purpose: a full-detail line once
overflowed the stdout capture):
  {"metric": "total_query_seconds", "value": N, "unit": "sec",
   "queries": {name: sec, ...},            # 19 headline queries at sf
   "runs": 3, "sf": 0.1, "detail": "BENCH_DETAIL.local.json",
   "probe": {"py4j_rtt_us": ..., "trivial_job_sec": ...}}  # machine calibration

The headline set runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and the
reported per-query number is the MEDIAN: it absorbs a one-off loaded
pass without hiding a real slowdown.  Per-query min/med/max lands in
the detail file.

The full measurement set -- the all-entry sweep and the sec-vs-sf scale
curve -- is written to the UNTRACKED BENCH_DETAIL.local.json next to
this script (committing one is a deliberate
``cp BENCH_DETAIL.local.json BENCH_DETAIL.json`` snapshot step):

* ``sweep`` -- every registry entry, so a regression in any of the
  non-headline entries shows up in the per-round file diff instead of
  living only in BASELINE.md prose.  Headline timings are reused (each
  query runs once per bench invocation).
* ``scale_curve`` -- the headline set re-timed at every available
  /root/testdata/sf* decade: the empirical sec-vs-sf curve backing the
  100-TB story.  Plan-shape tests pin the ASYMPTOTICS (no cartesians, no
  all-pairs); this measures the CONSTANTS actually scaling ~linearly
  across 100x of data (tests/test_scale_curve.py gates the growth bound).
* ``first_exec`` -- the one-off first-execution timings of the
  checkpoint-heavy sweep entries (CHECKPOINT_HEAVY): the sweep reports
  their WARM re-run and the cold number lands here (the r12 pl1
  phantom-regression lesson).  Headline entries carry the analogous
  ``first`` field in ``run_stats``.
* ``leg_timings`` (r15) -- per-leg breakdown of every tagged-union
  entry (registry.LEGS): the entry function is called once (``build``
  -- pays the shared eager checkpoints/training) and each leg is then
  collected through a ``tag == leg`` filter, which Catalyst constant-
  folds to that leg's subtree alone (branch pruning pinned by
  tests/test_bench_legs.py), so the number is the leg's MARGINAL cost.
  Entries that materialize their union at build (k2) declare an
  explicit builder (registry.LEG_BUILDERS) whose thunks own their
  eager work instead.  This exists because multi-leg entries carry up
  to 13 legs behind one sweep number -- a single-leg regression could
  hide inside the entry's total.

Seconds are reported, not gated: the regression check is the structural
budget of tests/budget.py, held in tests/test_oracle_parity.py.

Sweep single-shots vs medians: any sweep entry whose first timing
exceeds SWEEP_MEDIAN_THRESHOLD runs twice more and reports the MEDIAN
of 3, as the headline block does.  Sub-threshold entries stay single-shot (cheap, low phantom
risk: a loaded 0.4 s entry cannot be mistaken for a regression worth
re-timing).

Each query is timed end-to-end (plan + execute + collect).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_taxi_dataset_analysis_apache_hive_spark import registry  # noqa: E402
from nyc_taxi_dataset_analysis_apache_hive_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "a1_group_count",
    "a3_two_key_count",
    "w1_pct_share",
    "p456_predicate_surface",
    "p7_derived_duration_join",
    "f9_case_segmentation",
    "o3_topk_multi_sort",
    "a9_percentile",
    "s3_etl_clean_derive",
    "e1_tumbling_window_counts",
    "e2_sessionize",
    "a10_distinct_counts",
    "d3_minhash_lsh_pairs",
    "d4_ngram_jaccard_pairs",
    "d5_simhash_pairs",
    "d6_dup_clusters",
    "k1_knn_bruteforce",
    "k2_ann_lsh_ivf",
    "t1_text_profile",
]

#: testdata decades probed for the scale curve (smallest first so the
#: expensive sf is measured last, after the JVM is thoroughly warm)
CURVE_SFS = ["0.001", "0.01", "0.1"]

#: sweep entries with a large cold-vs-warm gap.  Each invocation builds
#: FRESH DataFrames and re-executes its eager localCheckpoints, so the
#: gap is first-execution overhead (codegen/JIT of these wide plans,
#: page-cache warmth), not one-off checkpoint cost.  The first pass is
#: recorded under ``first_exec``; the sweep carries the warm re-run.
CHECKPOINT_HEAVY = [
    "pl1_curation_funnel",
    "tv1_text_stats",
    "k3_embedding_near_pairs",
]

#: sweep entries slower than this (seconds, first pass) are re-run and
#: reported as a median of 3 -- one loaded single shot once put tv1 at
#: 18.9 s against a usual 3.9-12.5, and only a controlled re-time
#: dissolved it; above ~3 s a loaded single shot is indistinguishable
#: from a real regression, so the harness re-times structurally.
SWEEP_MEDIAN_THRESHOLD = 3.0


def time_legs(spark, sf_dir: str) -> dict[str, dict]:
    """Per-leg breakdown of every tagged-union entry (registry.LEGS).

    ``build`` = the entry function call (shared eager checkpoints /
    training); each leg = the marginal collect of that leg's subtree
    (tag-filter branch pruning, or the entry's LEG_BUILDERS thunks when
    the generic filter cannot isolate a leg).  Single-shot by design:
    these are DIAGNOSTIC attributions for locating which leg moved when
    an entry's (median-of-3) sweep number moves."""
    from pyspark.sql import functions as F

    out: dict[str, dict] = {}
    for name, (tag, legs) in registry.LEGS.items():
        t0 = time.perf_counter()
        leg_t: dict[str, float] = {}
        if name in registry.LEG_BUILDERS:
            thunks = registry.LEG_BUILDERS[name](spark, sf_dir)
            build = round(time.perf_counter() - t0, 3)
            for leg, thunk in thunks.items():
                t1 = time.perf_counter()
                thunk().collect()
                leg_t[leg] = round(time.perf_counter() - t1, 3)
        else:
            df = registry.QUERIES[name](spark, sf_dir)
            build = round(time.perf_counter() - t0, 3)
            for leg in legs:
                t1 = time.perf_counter()
                df.filter(F.col(tag) == leg).collect()
                leg_t[leg] = round(time.perf_counter() - t1, 3)
        out[name] = {"build": build, "legs": leg_t}
    return out


def machine_probe(spark) -> dict:
    """Fixed-cost machine-calibration probe (r18): the py4j gateway RTT
    and a trivial 32-task JVM job, emitted with every capture so
    cross-machine PERF comparisons can be normalized instead of
    hand-argued (the r17 lesson: an undocumented ~1.9x machine delta
    burned that round's entire headline comparison).  Additions-only --
    nothing here touches the timed query paths or their methodology."""
    # resolve the reflection chain ONCE: timing the uncached
    # ``jvm.java.lang.System.nanoTime()`` walk re-pays the java->lang->
    # System attribute lookups per call (measured 3.1/4.3/5.9 ms medians
    # on one idle session -- unstable AND ~12x a bare round trip); the
    # cached target's call is a stable ~0.24 ms = the actual gateway RTT
    # this probe exists to report
    jvm_system = spark._jvm.java.lang.System
    rtts = []
    for _ in range(200):
        t0 = time.perf_counter()
        jvm_system.nanoTime()
        rtts.append((time.perf_counter() - t0) * 1e6)
    rtts.sort()
    jobs = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.sparkContext.parallelize(range(32), 32).count()
        jobs.append(time.perf_counter() - t0)
    jobs.sort()
    return {
        "py4j_rtt_us": round(rtts[len(rtts) // 2], 1),
        "trivial_job_sec": round(jobs[len(jobs) // 2], 4),
    }


def time_queries(spark, names: list[str], sf_dir: str) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        registry.QUERIES[name](spark, sf_dir).collect()
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings


def median_of_runs(
    spark, names: list[str], sf_dir: str, n_runs: int
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Run the set ``n_runs`` times (fixed order each pass) and report
    the per-query median plus min/med/max stats."""
    passes = [time_queries(spark, names, sf_dir) for _ in range(n_runs)]
    med: dict[str, float] = {}
    stats: dict[str, dict[str, float]] = {}
    for name in names:
        vals = sorted(p[name] for p in passes)
        med[name] = vals[len(vals) // 2] if len(vals) % 2 else round(
            (vals[len(vals) // 2 - 1] + vals[len(vals) // 2]) / 2, 3
        )
        stats[name] = {
            "min": vals[0],
            "med": med[name],
            "max": vals[-1],
            # first = pass-1 timing: checkpoint/codegen materialization
            # lands here; an odd n_runs >= 3 median excludes it by
            # construction (n_runs < 3 is the quick-look mode -- its
            # "median" still tastes the cold pass)
            "first": passes[0][name],
        }
    return med, stats


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    testdata_root = os.path.dirname(sf_dir.rstrip("/")) or "/root/testdata"
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen once so per-query numbers measure the queries,
    # not session startup.
    registry.QUERIES["a1_group_count"](spark, sf_dir).collect()

    # machine-calibration probe (r18): runs warm, before any timed
    # block, so it can never perturb a query's number
    probe = machine_probe(spark)

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    # 1) headline set, fixed order, median of n_runs passes -- the
    # round-over-round comparable block
    timings, run_stats = median_of_runs(spark, HEADLINE, sf_dir, n_runs)

    # 2) the remaining registry entries -> full sweep (headline reused).
    # Checkpoint-heavy entries report their WARM cost in the sweep and
    # the one-off materialization pass separately (see CHECKPOINT_HEAVY)
    rest = [n for n in registry.QUERIES if n not in timings]
    sweep = {**timings, **time_queries(spark, rest, sf_dir)}
    first_exec: dict[str, float] = {}
    for name in CHECKPOINT_HEAVY:
        if name in timings:
            # headline path: run_stats already separates the true first
            # pass from the median; under the quick-look mode
            # (n_runs < 3) the "median" still tastes the cold pass, so
            # give the sweep a warm re-run
            first_exec[name] = run_stats[name]["first"]
            if n_runs < 3:
                sweep[name] = time_queries(spark, [name], sf_dir)[name]
        else:
            first_exec[name] = sweep[name]
    # slow non-headline entries: re-run twice, report the median of 3
    # (the r9/r14 anti-phantom treatment -- the pass-1 number for a
    # checkpoint-heavy entry is its COLD execution, which the median
    # excludes whenever the warm re-runs are faster)
    for name in rest:
        if sweep[name] > SWEEP_MEDIAN_THRESHOLD:
            more = [
                time_queries(spark, [name], sf_dir)[name] for _ in range(2)
            ]
            sweep[name] = sorted([sweep[name], *more])[1]

    # 3) per-leg breakdown of the tagged-union entries (JVM fully warm
    # by now, so leg numbers are steady-state marginals)
    leg_timings = time_legs(spark, sf_dir)

    # 4) sec-vs-sf curve for the headline set across available decades
    scale_curve: dict[str, dict[str, float]] = {}
    for dec in CURVE_SFS:
        ddir = os.path.join(testdata_root, f"sf{dec}")
        if not os.path.isdir(ddir):
            continue
        if sf is not None and float(dec) == sf:
            scale_curve[dec] = dict(timings)
            continue
        registry.QUERIES["a1_group_count"](spark, ddir).collect()  # warm dir
        scale_curve[dec] = time_queries(spark, HEADLINE, ddir)

    # untracked capture target (r14): committing a snapshot is a
    # deliberate copy to BENCH_DETAIL.json, so driver/judge re-runs
    # stop dirtying the tree
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.local.json"
    )
    detail = {
        "queries": timings,
        "run_stats": run_stats,
        "runs": n_runs,
        "sweep": sweep,
        "first_exec": first_exec,
        "leg_timings": leg_timings,
        "scale_curve": scale_curve,
        "probe": probe,
        "sf": sf,
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # Final stdout line stays compact and parseable: headline only.
    out = {
        "metric": "total_query_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs": n_runs,
        "sf": sf,
        "detail": os.path.basename(detail_path),
        # two fixed-cost calibration numbers (see machine_probe): lets
        # the next round normalize this capture against another machine
        "probe": probe,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
