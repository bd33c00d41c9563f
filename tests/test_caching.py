"""Cache hygiene: no registry entry leaves a session cache entry that a
later call can reuse.  An entry returns a lazy DataFrame, so nothing can
unpersist after the caller's action; the operators therefore cut shared
intermediates with a lazy ``localCheckpoint``, which belongs to the one
returned plan.  A persisted intermediate instead survives the call, and a
repeat call in the same session runs fewer jobs over the cached plan.

Assertions go through the session CacheManager, NOT ``getRDDStorageInfo``
counts -- the latter shrink nondeterministically when Spark's GC-driven
ContextCleaner reaps earlier tests' unreferenced blocks mid-assertion."""

from __future__ import annotations

import pytest

from nyc_taxi_dataset_analysis_apache_hive_spark import registry
from nyc_taxi_dataset_analysis_apache_hive_spark.caching import run_overlapped
from perfbench.tracing import SparkCounters


def _cache_manager_empty(spark) -> bool:
    """True when the session's CacheManager holds no DataFrame caches.
    Deterministic: entries only leave via unpersist/clearCache, never GC."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _jobs_of_one_call(spark, name: str, sf_dir: str) -> int:
    jobs = SparkCounters(spark)
    before = jobs.last_job_id()
    registry.QUERIES[name](spark, sf_dir).collect()
    return jobs.window(before, jobs.last_job_id())["jobs"]


@pytest.mark.parametrize(
    "name", ["d5_simhash_pairs", "k1_knn_bruteforce", "tv1_text_stats"]
)
def test_repeat_call_reuses_nothing(spark, sf0001_dir, name):
    """Two calls in one session, no clearCache between them: the second
    runs every job the first did, and no cache entry is left behind."""
    spark.catalog.clearCache()  # isolate from earlier session tests
    first = _jobs_of_one_call(spark, name, sf0001_dir)
    second = _jobs_of_one_call(spark, name, sf0001_dir)
    assert second == first
    assert _cache_manager_empty(spark)


def test_overlapped_jobs_keep_the_callers_job_group(spark):
    """Local properties are per thread: without the copy in
    run_overlapped, pool workers run their jobs outside the group."""
    sc = spark.sparkContext
    group = "test-overlapped-group"
    sc.setJobGroup(group, "overlapped build")
    try:
        run_overlapped(
            lambda: sc.parallelize(range(4), 2).count(),
            lambda: sc.parallelize(range(4), 2).count(),
        )
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
