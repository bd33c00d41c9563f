"""Overlapped materialization of independent build artifacts.

Operators cut a shared intermediate (one their plan reads twice) with a
lazy ``localCheckpoint(eager=False)``: the frame materializes inside the
caller's first action and belongs to that one returned plan, so no call
leaves a cache entry that a later call could reuse.  Multi-leg builds
whose independent artifacts must exist before planning use
:func:`run_overlapped` / :func:`checkpoint_overlapped` to run those
eager cuts concurrently.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import SparkContext
from pyspark.sql import DataFrame


#: the caller's job labels that run_overlapped carries into its workers
_JOB_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def run_overlapped(*thunks):
    """Run independent eager Spark actions from a small thread pool so
    their jobs overlap (optimization guide §2.6: the scheduler happily
    runs several jobs at once; actions are only sequential because
    driver code calls them sequentially).  Each ``thunk`` is a nullary
    callable performing its own action (a ``localCheckpoint(eager=True)``,
    an iterative training loop, ...); returns their results in call
    order.  Results are identical to running the thunks sequentially --
    only wall-clock changes -- so this is ONLY for thunks with no data
    dependency on each other.  The first thunk exception propagates.

    Used by the multi-leg entries whose shared-artifact builds used to
    pay one scheduling round-trip per eager checkpoint in sequence
    (tv1/k3/d6): a multi-leg build's independent artifacts now
    materialize concurrently, which also back-fills the straggler tail
    of each job with the next job's tasks at ANY core count.

    CONSTRAINT: overlapped thunks must not mutate SparkContext-GLOBAL
    state -- the checkpoint directory, session confs, catalog names they
    don't own -- because every pool thread shares it and a
    set-and-restore is only safe run sequentially.  No engine module
    writes that state: lineage cuts are ``localCheckpoint``, confs are
    set only in ``session.py``, and the only ``setLocalProperty`` is the
    one below.  ``tests/test_surface_conventions.py::
    test_no_sparkcontext_global_writes_outside_their_owner`` fails on any
    new call that sets the checkpoint directory, on ``conf.set`` outside
    ``session.py`` and on ``setLocalProperty`` outside this function.
    Job groups and descriptions are thread-local, so a pool worker would
    run its jobs outside the caller's group: each worker copies the
    caller's values (``_JOB_PROPS``) before its thunk.
    """
    if len(thunks) == 1:
        return [thunks[0]()]
    sc = SparkContext._active_spark_context
    props = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}

    def run(thunk):
        for k, v in props.items():
            sc.setLocalProperty(k, v)
        return thunk()

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(run, t) for t in thunks]
        return [f.result() for f in futures]


def checkpoint_overlapped(*dfs: DataFrame) -> list[DataFrame]:
    """``localCheckpoint(eager=True)`` several INDEPENDENT DataFrames
    with their materialization jobs overlapped (see
    :func:`run_overlapped`); returns the checkpointed frames in call
    order."""
    return run_overlapped(
        *[lambda d=d: d.localCheckpoint(eager=True) for d in dfs]
    )
