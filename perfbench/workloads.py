"""The benchmark's three workloads.

Each workload prepares its inputs before any timing (:meth:`prepare`), adds
its own part of session set-up (:meth:`setup`), and yields one pass as a list
of :class:`Op`.  An op's ``run`` is the timed part (plan + collect, or a
write); its ``check`` runs after the clock stops and returns a problem
description or ``None``.  The engine is reached only through its public
modules, passed in as ``eng`` (see ``run.Engine``).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Any, Callable

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))

#: registry input: a copy of the read-only sf0.001 testdata tables
REGISTRY_SF_DIR = os.path.join(HERE, "data", "sf0.001")

#: registry entries measured by ``registry_sf0001``, one per registry
#: module.  The whole 50-entry registry takes ~80 s warm and ~175 s cold on
#: 4 cores, more than a benchmark run may take.  The construction-heavy
#: entries (d5, t1, k2, tv1, a10, k3: 2.5k-16k py4j round trips each) are
#: left out on purpose: their build time tracks the host's round-trip
#: latency, which drifted between 105 and 205 us from run to run on a
#: shared 4-core host; with d5 and t1 in the pass, the interquartile range
#: of ``pass_s`` over ten runs was 40% of its median.  Construction cost
#: is still measured, as a load-invariant count:
#: ``registry.<module>.build_rtts``.
REGISTRY_ENTRIES = {
    "reference_ops": ("a9_percentile",),
    "events_dedup": ("e2_sessionize",),
    "text_similarity": ("m1_media_catalog",),
    "joins_sketches": ("x2_salted_join_agg",),
    "sampling_pipeline": ("p9_pivot",),
}

#: the quantiles of the reference's tip_percentiles statement (REF:318)
TIP_QUANTILES = (0.25, 0.5, 0.75)

#: per-layer counters that ``taxi_etl``'s write checks fill in per pass
WRITE_STATS = ("files_written", "bytes_written", "partitions_written")


@dataclass
class Op:
    """One timed operation of a pass."""

    name: str
    kind: str  # "stmt", "write" or "entry"
    run: Callable[[Any, Any], Any]  # (spark, tracer) -> result
    check: Callable[[Any, Any], str | None]  # (spark, result) -> problem
    module: str = ""


def _stmt_rows(rows) -> list[tuple]:
    """Rows in the statement's own column order, sorted."""
    return sorted(
        (tuple(check.norm(x) for x in r) for r in rows), key=check.sort_key
    )


class Workload:
    name = ""
    #: whether set-up includes registering the taxi views
    uses_trips = False

    def __init__(self, eng, work_dir: str, run_dir: str, seed: int, rows: int):
        self.eng = eng
        self.work_dir = work_dir
        self.run_dir = run_dir
        self.seed = seed
        self.rows = rows

    def inputs(self) -> None:
        """Generate (or find cached) inputs.  Needs no Spark session."""
        if self.uses_trips:
            self.csv_dir = gen.trips_csv_dir(self.work_dir, self.seed, self.rows)

    def prepare(self) -> None:
        """Inputs plus expected answers, before the session starts."""
        self.inputs()

    def setup(self, spark) -> None:
        """This workload's share of session set-up (timed in ``setup_s``)."""
        if self.uses_trips:
            trips = self.eng.readers.read_trips_csv(spark, self.csv_dir)
            self.eng.taxi_sql.register_taxi_views(spark, trips)

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError


class TaxiHiveQL(Workload):
    """The reference's 39 statements, back to back, on generated trips:
    25 over the raw schema-on-read table, 14 over the lazy cleaned view."""

    name = "taxi_hiveql"
    uses_trips = True

    def prepare(self) -> None:
        super().prepare()
        self.expected = gen.expected_answers(gen.TripCounts(self.rows))
        self.digests: dict[str, str] = {}

    def _stmt(self, name: str) -> Op:
        taxi_sql = self.eng.taxi_sql

        def run(spark, tr):
            with tr.span("taxi_sql.plan"):
                df = taxi_sql.run_taxi_sql(spark, name)
            with tr.span("taxi_sql.exec", spark_counts=True):
                return df, df.collect()

        def check_(spark, result):
            df, rows = result
            return check_statement(
                name, df, rows, self.expected, self.digests,
                name in taxi_sql.NONDETERMINISTIC_SAMPLES,
            )

        return Op(name, "stmt", run, check_)

    def pass_ops(self) -> list[Op]:
        return [self._stmt(name) for name in self.eng.taxi_sql.ALL_TAXI_SQL]


def expected_problem(name, rows, expected) -> str | None:
    """Mismatch against the generator's known answer, if it fixes one."""
    want = expected.get(name)
    if want is None:
        return None
    counted = bool(want) and want[0][0] == "rows"
    got = [("rows", len(rows))] if counted else _stmt_rows(rows)
    return None if got == want else f"{name}: got {got[:4]} want {want[:4]}"


def check_statement(name, df, rows, expected, digests, sample_only) -> str | None:
    """Known answer if the generator fixes one, and the same digest on
    every pass (row count only for the LIMIT-without-ORDER samples)."""
    problem = expected_problem(name, rows, expected)
    if problem:
        return problem
    if sample_only:
        got = str(len(rows))
    else:
        got = check.digest(check.spark_rows(rows, df.columns))
    first = digests.setdefault(name, got)
    if got != first:
        return f"{name}: result differs from the first pass"
    return None


class TaxiETL(Workload):
    """The INSERT OVERWRITE half: clean, dynamic-partition ORC overwrite,
    bucketed table write, then the 14 clean-table statements read back."""

    name = "taxi_etl"
    uses_trips = True
    TABLE = "trips_clean_bucketed"

    def prepare(self) -> None:
        super().prepare()
        self.counts = gen.TripCounts(self.rows)
        self.expected = gen.expected_answers(self.counts)
        self.out_dir = os.path.join(self.run_dir, "out", "trips_clean")
        self.write_stats: dict[str, int] = {}
        self.reference: dict[str, list[tuple]] = {}
        self.tip_bands = [
            gen.clean_tip_band(self.seed, self.counts, q) for q in TIP_QUANTILES
        ]

    def pass_ops(self) -> list[Op]:
        # the first (warm-up) pass runs the 14 statements on the lazy
        # trips_clean view that set-up registered: its answers are the
        # reference every later pass's read-back of the table must match
        eng, state = self.eng, {}
        reference_pass = not self.reference

        def write_partitioned(spark, tr):
            with tr.span("sources.read_call"):
                trips = eng.readers.read_trips_csv(spark, self.csv_dir)
            with tr.span("etl.clean"):
                state["clean"] = eng.etl.clean_trips(trips)
            with tr.span("sources.write", spark_counts=True):
                eng.writers.write_clean_partitioned(
                    state["clean"], self.out_dir, fmt="orc"
                )

        def check_partitioned(spark, _):
            files = bytes_ = 0
            parts = set()
            for d, _dirs, names in os.walk(self.out_dir):
                for n in names:
                    if n.startswith("part-"):
                        files += 1
                        bytes_ += os.path.getsize(os.path.join(d, n))
                        parts.add(os.path.relpath(d, self.out_dir))
            self.write_stats.update(
                files_written=files, bytes_written=bytes_,
                partitions_written=len(parts),
            )
            want = {os.path.join("yr=2017", f"mnth={m}") for m in (11, 12)}
            if parts != want:
                return f"write_partitioned: partitions {sorted(parts)}"
            n = spark.read.orc(self.out_dir).count()
            if n != self.counts.clean_total:
                return f"write_partitioned: {n} rows, want {self.counts.clean_total}"
            return None

        def write_table(spark, tr):
            with tr.span("sources.table_write", spark_counts=True):
                eng.writers.write_clean_table(state["clean"], self.TABLE, fmt="orc")
            if not reference_pass:
                spark.table(self.TABLE).createOrReplaceTempView("trips_clean")

        def check_table(spark, _):
            n = spark.table(self.TABLE).count()
            if n != self.counts.clean_total:
                return f"write_table: {n} rows, want {self.counts.clean_total}"
            return None

        ops = [
            Op("write_partitioned", "write", write_partitioned, check_partitioned),
            Op("write_table", "write", write_table, check_table),
        ]
        for name in eng.taxi_sql.TAXI_SQL_CLEAN:
            ops.append(self._readback(name, reference_pass))
        return ops

    def _readback(self, name: str, reference_pass: bool) -> Op:
        taxi_sql = self.eng.taxi_sql

        def run(spark, tr):
            with tr.span("sources.readback"):
                with tr.span("taxi_sql.plan"):
                    df = taxi_sql.run_taxi_sql(spark, name)
                with tr.span("taxi_sql.exec", spark_counts=True):
                    return df, df.collect()

        def check_(spark, result):
            df, rows = result
            got = check.spark_rows(rows, df.columns)
            if name == "tip_percentiles":
                return self._check_tip_percentiles(rows)
            if reference_pass:
                self.reference[name] = got
            elif not check.rows_match(got, self.reference[name]):
                return f"{name}: read-back differs from the lazy view"
            return expected_problem(name, rows, self.expected)

        return Op(name, "stmt", run, check_)


    def _check_tip_percentiles(self, rows) -> str | None:
        """percentile_approx's answer depends on how the input is
        partitioned, so the table's and the lazy view's may differ: each
        must lie within the approximation's rank error of the exact
        quantile."""
        values = rows[0][0] if len(rows) == 1 else None
        if values is None or len(values) != len(self.tip_bands):
            return f"tip_percentiles: got {rows}"
        for v, (lo, hi) in zip(values, self.tip_bands):
            if not lo <= v <= hi:
                return f"tip_percentiles: {v} outside [{lo}, {hi}]"
        return None


class Registry(Workload):
    """A fixed set of registry entries on sf0.001, each checked against its
    DuckDB oracle.  The seed fixes the order of the entries in every pass;
    each pass gets a new order, so no one ordering's effects (which entry
    runs first after the previous pass) dominate a run."""

    name = "registry_sf0001"

    def prepare(self) -> None:
        import duckdb

        super().prepare()
        con = duckdb.connect()
        for t in self.eng.schema.TESTDATA_TABLES:
            path = os.path.join(REGISTRY_SF_DIR, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.oracle = {
            name: check.duckdb_rows(con, self.eng.registry.ORACLES[name])
            for names in REGISTRY_ENTRIES.values() for name in names
        }
        con.close()
        self.order = [
            (module, name)
            for module, names in REGISTRY_ENTRIES.items() for name in names
        ]
        self.rng = random.Random(self.seed)

    def _entry(self, module: str, name: str) -> Op:
        query = self.eng.registry.QUERIES[name]

        def run(spark, tr):
            with tr.span("registry.build", spark_counts=True, module=module, entry=name):
                df = query(spark, REGISTRY_SF_DIR)
            with tr.span("exec.collect", spark_counts=True, module=module, entry=name):
                return df, df.collect()

        def check_(spark, result):
            df, rows = result
            want_rows, want_cols = self.oracle[name]
            if sorted(df.columns) != want_cols:
                return f"{name}: columns {sorted(df.columns)} want {want_cols}"
            if check.spark_rows(rows, df.columns) != want_rows:
                return f"{name}: rows differ from the DuckDB oracle"
            return None

        return Op(name, "entry", run, check_, module=module)

    def pass_ops(self) -> list[Op]:
        self.rng.shuffle(self.order)
        return [self._entry(m, n) for m, n in self.order]


WORKLOADS = {w.name: w for w in (TaxiHiveQL, TaxiETL, Registry)}
