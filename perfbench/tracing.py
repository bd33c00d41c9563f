"""Instrumentation for the traced run, installed from outside the engine.

* :class:`RttCounter` counts py4j round trips by wrapping
  ``ClientServerConnection.send_command`` (every Python->JVM call passes
  through it, from any thread).
* :class:`SparkCounters` counts jobs, stages and tasks by job-ID window:
  every job the context ran between two snapshots, whatever thread or job
  group launched it.
* :class:`Tracer` keeps spans (name, start, end, parent) in memory, adds the
  counts measured at the same boundaries, and writes them out at exit.

None of it is active in an untimed (``--trace 0``) run.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class RttCounter:
    """Counts py4j round trips while installed."""

    def __init__(self):
        import py4j.clientserver as cs

        self._cls = cs.ClientServerConnection
        self._orig = self._cls.send_command
        self._lock = threading.Lock()
        self.count = 0
        self.paused = False

    def install(self) -> None:
        counter, orig = self, self._orig

        def send_command(conn, command):
            if not counter.paused:
                with counter._lock:
                    counter.count += 1
            return orig(conn, command)

        self._cls.send_command = send_command

    def uninstall(self) -> None:
        self._cls.send_command = self._orig

    @contextmanager
    def pause(self):
        """Exclude the harness's own bookkeeping calls from the count."""
        self.paused = True
        try:
            yield
        finally:
            self.paused = False


class SparkCounters:
    """Jobs, stages and tasks run between two snapshots (by job ID)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._tracker = self._sc.statusTracker()

    def _drain(self) -> None:
        # job/stage/task ends reach the status store through the async
        # listener bus; wait until it has caught up with the last action
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self._drain()
        jobs = self._jsc.statusStore().jobsList(None)
        if jobs.isEmpty():
            return -1
        # the store lists jobs newest first
        return max(jobs.head().jobId(), jobs.last().jobId())

    def window(self, after_job: int, upto_job: int) -> dict[str, int]:
        """Counts over jobs ``after_job < id <= upto_job``.  A stage counts
        once if it ran at least one task (skipped stages do not)."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        seen: set[int] = set()
        for job_id in range(after_job + 1, upto_job + 1):
            info = self._tracker.getJobInfo(job_id)
            out["jobs"] += 1
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks + st.numFailedTasks
                out["failed_tasks"] += st.numFailedTasks
        return out

    def persisted_rdds(self) -> int:
        return len(self._sc._jsc.getPersistentRDDs())


class Tracer:
    """Spans at pass -> op -> layer call, with counts at each boundary.

    ``span()`` measures wall time, py4j round trips and (for spans opened
    with ``spark_counts=True``) the Spark jobs, stages and tasks run inside
    it.  Counting is paused while the tracer does its own bookkeeping."""

    def __init__(self, spark):
        self.rtts = RttCounter()
        self.spark = SparkCounters(spark)
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def install(self) -> None:
        self.rtts.install()

    def uninstall(self) -> None:
        self.rtts.uninstall()

    @contextmanager
    def span(self, name: str, spark_counts: bool = False, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        rec.update(attrs)
        with self.rtts.pause():
            job0 = self.spark.last_job_id() if spark_counts else None
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rtt0 = self.rtts.count
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["rtts"] = self.rtts.count - rtt0
            self._stack.pop()
            if spark_counts:
                with self.rtts.pause():
                    rec.update(self.spark.window(job0, self.spark.last_job_id()))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
