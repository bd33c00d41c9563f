"""Cache-lifecycle management for operators that ``persist()`` intermediates.

Several operators cache an intermediate frame that their plan references
twice (SimHash signatures, the TF relation in TF-IDF, the scored relation
of contrastive mining).  ``DataFrame.persist`` is lazy and session-global:
nothing can be unpersisted *inside* the operator (the returned DataFrame
has not run yet), so without lifecycle help a long-lived session running
many corpora accumulates cache entries until ``spark.catalog.clearCache()``.

:class:`CacheScope` closes that gap: operators register every frame they
persist with the caller's scope, and the scope unpersists them all when it
exits -- after the caller's terminal action, which is the earliest moment
unpersisting is safe::

    with CacheScope() as cs:
        top = tfidf_top_terms(token_table(docs), k=3, cache=cs)
        top.write.parquet(out)            # terminal action runs cached
    # <- every intermediate unpersisted here (blocking)

Passing no scope keeps the round-2 behaviour (persist and leave to the
session), which is fine for short-lived jobs and the bench/driver sweeps.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import SparkContext
from pyspark.sql import DataFrame


class CacheScope:
    """Collects persisted DataFrames and unpersists them on scope exit.

    Reusable as a plain registry too: call :meth:`unpersist_all` directly
    when the ``with`` form doesn't fit (e.g. async pipelines).
    """

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    @property
    def tracked(self) -> tuple[DataFrame, ...]:
        """Frames currently tracked (not yet unpersisted) -- inspectable so
        callers/tests can verify cache state without global counters."""
        return tuple(self._frames)

    def persist(self, df: DataFrame, storage_level=None) -> DataFrame:
        """Persist ``df`` (default storage level unless given) and track it."""
        df = df.persist(storage_level) if storage_level is not None else df.persist()
        self._frames.append(df)
        return df

    def unpersist_all(self, blocking: bool = False) -> None:
        """Unpersist every tracked frame (newest first); idempotent."""
        while self._frames:
            try:
                self._frames.pop().unpersist(blocking)
            except Exception:
                pass  # a stopped session can't leak cache; nothing to do

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> bool:
        # blocking so the executor memory is actually free when the scope
        # closes -- the deterministic contract tests rely on
        self.unpersist_all(blocking=True)
        return False


def maybe_persist(df: DataFrame, cache: CacheScope | None) -> DataFrame:
    """The one persist decision shared by the persisting operators:
    scope-tracked when a :class:`CacheScope` is given, plain
    session-lifetime ``persist()`` otherwise."""
    if cache is not None:
        return cache.persist(df)
    return df.persist()


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
