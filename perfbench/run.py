"""nycspark benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload taxi_etl --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  One process, ``local[<cpus>]``, one op at
a time.  A run:

1. makes the workload's inputs from ``--seed`` (cached per seed and size);
2. measures set-up: engine import, ``get_spark``, a first trivial query and,
   for the taxi workloads, view registration;
3. runs untimed warm-up passes, then at least two timed passes and until
   ``--seconds`` have been measured, clearing Spark's cache before every op
   and checking every op's output after its clock stops;
4. prints a readable report, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
   ``--trace 0``; with ``--trace 1`` the per-layer metrics, from passes that
   alternate between traced and untraced so the tracing overhead is
   measured in the same process.

Everything the run writes goes under ``.perfbench_work/`` in the checkout;
the per-run directory (warehouse, outputs, Spark scratch) is removed at the
end, the generated CSVs are kept as a cache.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nyc_taxi_dataset_analysis_apache_hive_spark"
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

#: raw trips generated for the taxi workloads (clean rows)
DEFAULT_ROWS = 30_000

#: untimed passes before timing, and the fewest timed passes (each op's
#: time is its median over them).  Pass times fall steeply over the first
#: passes as the JVM compiles hot paths (registry_sf0001 on 4 cores: 13.7,
#: 5.4, 4.5, then 3.5-4.3 s), and the numbers depend on how many passes came
#: before, so both counts are fixed; ``--seconds`` only adds timed passes
#: when the minimum measured less than that.
WARMUP_PASSES = 3
MIN_TIMED_PASSES = 2


class Engine:
    """The engine's public modules, imported inside the timed set-up."""

    def __init__(self):
        import importlib

        def mod(name):
            return importlib.import_module(f"{PACKAGE}.{name}")

        self.session = mod("session")
        self.schema = mod("schema")
        self.readers = mod("sources.readers")
        self.writers = mod("sources.writers")
        self.etl = mod("operators.etl")
        self.taxi_sql = mod("taxi_sql")
        self.registry = mod("registry")


class NullTracer:
    """Stands in for ``tracing.Tracer`` in untraced passes."""

    class _Span:
        def __enter__(self):
            return None

        def __exit__(self, *exc):
            return False

    _span = _Span()

    def span(self, name, spark_counts=False, **attrs):
        return self._span


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(run_dir: str) -> None:
    """Process environment for the engine: every scratch path inside the
    run directory, the checkout importable by Spark's Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_session(wl_cls, args, run_dir):
    """Timed set-up.  Returns (spark, engine, workload, timings)."""
    t0 = time.perf_counter()
    eng = Engine()
    spark = eng.session.get_spark(
        app_name="perfbench",
        extra_confs={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData"
                f" -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
                f" -Dderby.system.home={run_dir}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    t1 = time.perf_counter()
    spark.range(1).collect()
    t2 = time.perf_counter()
    wl = wl_cls(eng, WORK_DIR, run_dir, args.seed, args.rows)
    wl.inputs()
    t3 = time.perf_counter()
    wl.setup(spark)
    t4 = time.perf_counter()
    return spark, eng, wl, {
        "setup_s": (t2 - t0) + (t4 - t3),
        "start_s": t1 - t0,
        "first_query_s": t2 - t1,
        "register_s": t4 - t3,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def machine_probe(spark) -> dict:
    """Median py4j round trip and the time of a trivial 32-task JVM job:
    machine context for the run."""
    jvm_system = spark._jvm.java.lang.System
    rtts = []
    for _ in range(200):
        t0 = time.perf_counter()
        jvm_system.nanoTime()
        rtts.append((time.perf_counter() - t0) * 1e6)
    t0 = time.perf_counter()
    spark.range(0, 32, 1, 32).count()
    return {
        "py4j_rtt_us": statistics.median(rtts),
        "trivial_job_s": time.perf_counter() - t0,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def error_text(op: str, e: Exception) -> str:
    return f"{op}: {type(e).__name__}: {str(e)[:300]}"


class Runner:
    """Runs passes of one workload and keeps their measurements."""

    def __init__(self, spark, wl, tracer):
        self.spark = spark
        self.wl = wl
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run_pass(self, traced: bool) -> dict:
        """One pass; returns its timings (op clocks exclude checks and the
        cache clearing between ops)."""
        tr = self.tracer if traced else NullTracer()
        spark = self.spark
        catalog = spark.catalog
        rec = {"ops": [], "persisted": 0, "leaky": 0, "traced": traced}
        if traced:
            self.tracer.install()
            first_span = len(self.tracer.spans)
        rec["py_cpu_s"] = 0.0
        with tr.span("pass"):
            for op in self.wl.pass_ops():
                catalog.clearCache()
                self.attempted += 1
                problem = None
                t0, cpu0 = time.perf_counter(), time.process_time()
                try:
                    with tr.span("op", op=op.name, kind=op.kind, module=op.module):
                        result = op.run(spark, tr)
                except Exception as e:  # any failure counts, none aborts
                    problem = error_text(op.name, e)
                elapsed = time.perf_counter() - t0
                rec["py_cpu_s"] += time.process_time() - cpu0
                rec["ops"].append((op.name, op.kind, elapsed))
                if problem is None:
                    try:
                        problem = op.check(spark, result)
                    except Exception as e:
                        problem = error_text(op.name, e)
                if problem:
                    self.failed += 1
                    self.problems.append(problem)
                if traced:
                    with self.tracer.rtts.pause():
                        n = self.tracer.spark.persisted_rdds()
                    rec["persisted"] += n
                    rec["leaky"] += n > 0
        rec["pass_s"] = sum(e for _, _, e in rec["ops"])
        if traced:
            self.tracer.uninstall()
            rec["spans"] = self.tracer.spans[first_span:]
        return rec


def layer_metrics(wl, passes, traced, untraced, setup, probe) -> dict:
    """Per-layer metrics: medians over traced passes of per-pass sums."""
    import workloads

    def per_pass(fn) -> float:
        return statistics.median(fn(p) for p in traced) if traced else 0.0

    def spans(p, name, **match):
        return [
            s for s in p["spans"]
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    def total(p, name, field, **match) -> float:
        return sum(
            (s["end"] - s["start"]) if field == "s" else s.get(field, 0)
            for s in spans(p, name, **match)
        )

    m = {
        "session.start_s": setup["start_s"],
        "session.first_query_s": setup["first_query_s"],
        "session.py4j_rtt_us": probe["py4j_rtt_us"],
        "session.trivial_job_s": probe["trivial_job_s"],
    }
    for module in workloads.REGISTRY_ENTRIES:
        for field, key in (("s", "build_s"), ("rtts", "build_rtts"), ("jobs", "build_jobs")):
            m[f"registry.{module}.{key}"] = per_pass(
                lambda p: total(p, "registry.build", field, module=module))
    for module in workloads.REGISTRY_ENTRIES:
        for field in ("s", "jobs", "stages", "tasks"):
            m[f"exec.{module}.{field}"] = per_pass(
                lambda p: total(p, "exec.collect", field, module=module))
    m["exec.failed_tasks"] = per_pass(
        lambda p: sum(s.get("failed_tasks", 0) for s in p["spans"]))
    m["taxi_sql.register_s"] = setup["register_s"] if wl.uses_trips else 0.0
    m["taxi_sql.plan_s"] = per_pass(lambda p: total(p, "taxi_sql.plan", "s"))
    m["taxi_sql.plan_rtts"] = per_pass(lambda p: total(p, "taxi_sql.plan", "rtts"))
    m["taxi_sql.exec_s"] = per_pass(lambda p: total(p, "taxi_sql.exec", "s"))
    for field in ("jobs", "stages", "tasks"):
        m[f"taxi_sql.{field}"] = per_pass(
            lambda p: total(p, "taxi_sql.exec", field))
    stmt = stmt_latencies(untraced)
    m["taxi_sql.stmt_p50_s"] = statistics.median(stmt) if stmt else 0.0
    m["taxi_sql.stmt_samples"] = len(stmt)
    m["sources.read_call_s"] = per_pass(lambda p: total(p, "sources.read_call", "s"))
    m["sources.write_s"] = per_pass(lambda p: total(p, "sources.write", "s"))
    m["sources.table_write_s"] = per_pass(lambda p: total(p, "sources.table_write", "s"))
    m["sources.readback_s"] = per_pass(lambda p: total(p, "sources.readback", "s"))
    stats = getattr(wl, "write_stats", {})
    for key in workloads.WRITE_STATS:
        m[f"sources.{key}"] = stats.get(key, 0)
    m["sources.bytes_per_row"] = bytes_per_row(wl)
    m["caching.persisted_rdds"] = per_pass(lambda p: p["persisted"])
    m["caching.leaky_ops"] = per_pass(lambda p: p["leaky"])
    m["memory.peak_rss_mb"] = probe["peak_rss_mb"]
    m["warmup.first_pass_s"] = passes[0]["pass_s"]
    m["driver.py_cpu_s"] = statistics.median(p["py_cpu_s"] for p in untraced)
    m["trace.overhead_s"] = typical_pass_s(traced) - typical_pass_s(untraced)
    return m


def typical_pass_s(timed) -> float:
    """Wall time of a typical warm pass: the sum over ops of each op's
    median time across the timed passes, so a hiccup (a GC pause, a burst
    of CPU steal) in one op of one pass does not move it."""
    per_op: dict[str, list[float]] = {}
    for p in timed:
        for name, _, elapsed in p["ops"]:
            per_op.setdefault(name, []).append(elapsed)
    return sum(statistics.median(v) for v in per_op.values())


def stmt_latencies(timed) -> list[float]:
    return [e for p in timed for _, kind, e in p["ops"] if kind == "stmt"]


def bytes_per_row(wl) -> float:
    stats = getattr(wl, "write_stats", {})
    if not stats.get("bytes_written"):
        return 0.0
    return stats["bytes_written"] / wl.counts.clean_total


#: units not given by a name's suffix
UNITS = {"error_rate": "ratio", "machine.steal_share": "ratio"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_us"):
        return "us"
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.startswith("bytes"):
        return "B"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=DEFAULT_ROWS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return measure(args, run_dir, workloads)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str, workloads) -> int:
    configure_env(run_dir)
    wl_cls = workloads.WORKLOADS[args.workload]
    steal0, total0 = cpu_jiffies()

    # inputs first (cached per seed, not part of set-up), then set-up
    clock = [time.perf_counter()]
    phases = {}

    def phase(name):
        clock.append(time.perf_counter())
        phases[name] = clock[-1] - clock[-2]

    wl_cls(None, WORK_DIR, run_dir, args.seed, args.rows).inputs()
    phase("inputs")
    spark, eng, wl, setup = start_session(wl_cls, args, run_dir)
    phase("setup")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.prepare()
        phase("prepare")
        probe = machine_probe(spark)
        phase("probe")
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
        runner = Runner(spark, wl, tracer)

        passes = [runner.run_pass(traced=False) for _ in range(WARMUP_PASSES)]
        phase("warmup")
        # traced runs alternate untraced/traced/traced/untraced, so slow
        # drift (the JVM still warming) cancels out of the overhead
        timed: list[dict] = []
        while len(timed) < (4 if args.trace else MIN_TIMED_PASSES) \
                or sum(p["pass_s"] for p in timed) < args.seconds:
            timed.append(runner.run_pass(
                traced=bool(args.trace) and len(timed) % 4 in (1, 2)))
        passes += timed
        phase("timed")

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        probe["peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid])
        if tracer:
            tracer.write(os.path.join(WORK_DIR, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        stop_session(spark)
    phase("stop")
    steal1, total1 = cpu_jiffies()

    untraced = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    stmt = stmt_latencies(untraced)
    end_to_end = {
        "setup_s": setup["setup_s"],
        "pass_s": typical_pass_s(untraced),
    }
    report = dict(end_to_end, peak_rss_mb=probe["peak_rss_mb"])
    if stmt:
        report["stmt_p50_s"] = statistics.median(stmt)
    if len(stmt) >= 100:  # at least ten samples beyond the p90
        report["stmt_p90_s"] = percentile(stmt, 0.9)
    if bytes_per_row(wl):
        report["bytes_per_row"] = bytes_per_row(wl)
    report["error_rate"] = runner.failed / runner.attempted
    context = {
        "machine.nproc": cpu_count(),
        "machine.steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "machine.py4j_rtt_us": probe["py4j_rtt_us"],
        "machine.trivial_job_s": probe["trivial_job_s"],
    }

    print(f"workload {wl.name} seed {args.seed}: {len(timed)} timed passes, "
          f"{runner.attempted} ops attempted, {runner.failed} failed, "
          f"{len(stmt)} statement samples")
    print("  phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items()))
    print("  passes: " + " ".join(
        f"{p['pass_s']:.2f}{'T' if p['traced'] else ''}" for p in passes))
    for problem in runner.problems[:20]:
        print(f"  FAILED {problem}")
    for name, value in {**report, **context}.items():
        print(f"  {name:<34} {value:>14.6g} {unit_of(name)}")

    if args.trace:
        metrics = layer_metrics(wl, passes, traced, untraced, setup, probe)
        metrics["machine.nproc"] = context["machine.nproc"]
        metrics["machine.steal_share"] = context["machine.steal_share"]
    else:
        metrics = end_to_end
    if args.trace:
        for name, value in metrics.items():
            print(f"  {name:<44} {value:>14.6g} {unit_of(name)}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
