"""SparkSession factory with the engine's canonical configuration.

Replaces the reference's session setup block (REF:4-18: dynamic-partition
switches, SerDe JAR, ``USE ss``).  Spark needs no JAR (CSV is built in) and no
partition-count limits; the semantically-relevant settings are:

* ``spark.sql.session.timeZone=UTC`` -- unix_timestamp/year/month/day/date
  (REF:89,241,383) are session-timezone sensitive; pin UTC so results are
  reproducible and match timezone-naive oracles.
* ``spark.sql.sources.partitionOverwriteMode=dynamic`` -- the Spark analog of
  ``SET hive.exec.dynamic.partition=true`` (REF:4) for the INSERT OVERWRITE
  PARTITION(yr,mnth) ETL sink (REF:261).
* AQE on -- runtime shuffle-partition coalescing + skew-join handling, the
  100-TB safety net the reference delegated to Hive/YARN.
* ``spark.sql.ansi.enabled=false`` -- Hive semantics: division by zero and
  overflow yield NULL, not an error (Hive 1.1.0 behaviour the workload
  implicitly relies on, e.g. speed = distance/hour_diff, REF:368).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs that queries()/entry() also apply to a session the
#: driver hands us (we must not assume the driver used this factory).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.ansi.enabled": "false",
    # Read parquet naive timestamps as TimestampType (session-TZ UTC), not
    # TIMESTAMP_NTZ, so parquet and schema'd CSV scans of the same data get
    # identical schemas (values agree because the session TZ is pinned UTC).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # InferFiltersFromGenerate synthesizes size(x)>0 under explode() and
    # PushDownPredicates then inlines the generator-input expression into the
    # pushed filter.  With higher-order-function inputs (shingling: tokenize
    # -> transform -> array_distinct) that re-evaluates the whole pipeline
    # per row, interpreted (HOFs never codegen) -- measured 2-4x slowdown on
    # the dedup operators.  The filter only skips empty arrays, which our
    # explodes handle anyway.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def _enable_py4j_nodelay(spark: SparkSession) -> None:
    """Set TCP_NODELAY on the py4j gateway sockets (current and future).

    Every Column/DataFrame construction is a py4j round-trip over a
    loopback TCP socket that py4j leaves Nagle-enabled; on this kernel a
    trivial gateway call measures 667 us with Nagle vs 522 us without
    (raw loopback RTT 62 us), and a complex multi-leg entry makes ~10k
    such calls per construction (r17 cProfile capture in
    OPTIMIZATION_r17.md).  Disabling Nagle on a local request/response
    RPC socket is unconditionally right -- Spark's own Netty RPC does
    the same -- so patch the existing client connections and the
    connection factory for ones not yet opened.  Driver-side only; no
    effect on any query plan or result."""
    import socket as _socket

    import py4j.clientserver as _cs

    try:
        def _nodelay(sock) -> None:
            try:
                sock.setsockopt(
                    _socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1
                )
            except Exception:
                pass

        if not getattr(_cs, "_spark_graft_nodelay", False):
            _orig = _cs.ClientServerConnection.connect_to_java_server

            def _patched(self):
                _orig(self)
                _nodelay(self.socket)

            _cs.ClientServerConnection.connect_to_java_server = _patched
            _cs._spark_graft_nodelay = True
        gw = spark.sparkContext._gateway
        for conn in list(getattr(gw._gateway_client, "deque", [])):
            _nodelay(conn.socket)
    except Exception:
        # best-effort: an unexpected py4j internals change (or a
        # connect-client session with no gateway) just keeps Nagle
        pass


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable semantics confs on an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable on some builds; the factory path covers it.
            pass
    _enable_py4j_nodelay(spark)
    return spark


#: driver heap bounds (MiB) for the default ``spark.driver.memory``
DRIVER_MEMORY_MAX_MB = 8 * 1024
DRIVER_MEMORY_MIN_MB = 1024


def default_driver_memory(meminfo: str) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset: a
    quarter of the machine's memory, capped at 8g, from the text of
    ``/proc/meminfo``.  A fixed 8g let two local sessions (a test run
    plus one script) reserve more heap than a 16 GB machine has, and
    the kernel killed a JVM.  Text without a ``MemTotal`` line (no
    /proc) gets the cap; the 1g floor keeps the JVM above Spark's
    minimum on very small machines."""
    for line in meminfo.splitlines():
        fields = line.split()
        if fields[:1] == ["MemTotal:"]:
            quarter_mb = int(fields[1]) // 4 // 1024
            mb = max(DRIVER_MEMORY_MIN_MB, min(DRIVER_MEMORY_MAX_MB, quarter_mb))
            return f"{mb}m"
    return f"{DRIVER_MEMORY_MAX_MB}m"


def _read_meminfo() -> str:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:
        return ""


def get_spark(
    app_name: str = "nyc-taxi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the canonical SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for
    local runs; on a real cluster pass ``master=None`` with a configured
    spark-submit and only the semantic confs apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Match local parallelism; on a 1000-executor cluster this should be
        # ~2-3x total cores and is expected to be overridden via extra_confs.
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or default_driver_memory(_read_meminfo()),
        )
        # Arrow for the (rare) Pandas-UDF extension path and fast toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Static, so builder-only (spark.conf.set raises
        # CANNOT_MODIFY_STATIC_CONFIG) and read once per process by
        # PySpark: with it on, every functions.* call and Column operator
        # also walks the Python stack and sets/clears the JVM's
        # PySparkCurrentOrigin, about 7 extra py4j round trips each, to put
        # the Python call site into runtime errors' query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if extra_confs:
        for k, v in extra_confs.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session: re-pin semantics.
    return apply_runtime_confs(spark)
