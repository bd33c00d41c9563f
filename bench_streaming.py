#!/usr/bin/env python
"""Streaming microbenchmark: rows/s + micro-batch latency per stream operator.

Feeds the ``events`` table (default ``$SPARK_GRAFT_SF_DIR`` or sf0.01) as a
time-sliced file drop-zone (N parquet files + a far-future sentinel, same
shape as ``tests/test_streaming.py``) through each streaming operator with
``maxFilesPerTrigger=1`` and an ``availableNow`` trigger, then reads Spark's
own ``StreamingQuery.recentProgress`` for per-batch trigger latency and
throughput.  Prints ONE JSON line::

    {"sf": "...", "rows": N, "slices": K,
     "streams": {"tumbling": {"wall_sec": ..., "batches": ...,
                              "rows_per_sec": ..., "median_batch_ms": ...,
                              "max_batch_ms": ..., "out_rows": ...}, ...}}

``rows_per_sec`` is total input rows / summed triggerExecution time -- the
sustained per-batch processing rate, independent of file-listing idle time.
Numbers are recorded as the streaming regression anchor in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

#: closes every open window/session before the drain (append-mode windows
#: only emit once the watermark passes them) -- mirrors tests/test_streaming.
SENTINEL = "zz_sentinel"


def write_time_sliced(pdf, out: str, n_slices: int) -> None:
    """``events`` rows as time-ordered parquet slices + sentinel file."""
    import pandas as pd

    os.makedirs(out)
    pdf = pdf.sort_values("ts").reset_index(drop=True)
    n = len(pdf)
    for i in range(n_slices):
        chunk = pdf.iloc[n * i // n_slices : n * (i + 1) // n_slices]
        chunk.to_parquet(os.path.join(out, f"{i:03d}.parquet"), index=False)
    sent = pdf.iloc[[0]].copy()
    sent["event_id"] = 10**9
    # keep micros: scalar assignment re-coerces to datetime64[ns] (a
    # different parquet physical type than the sliced files)
    sent["ts"] = pd.Series(
        [pdf["ts"].max() + pd.Timedelta(days=2)], dtype="datetime64[us]"
    ).values
    sent["user_id"] = -1
    sent["event_type"] = SENTINEL
    sent["value"] = 0.0
    sent.to_parquet(os.path.join(out, "zzz_sentinel.parquet"), index=False)


def drain_and_measure(
    spark, make_stream, src_dir: str, name: str, mode: str, read_stream=None
):
    """Run one stream to a memory sink; return wall time + progress stats.
    ``read_stream`` overrides the default events reader (the doc-stream
    section passes the documents drop-zone reader) so every measured
    stream shares ONE drain/trigger/stats path."""
    if read_stream is None:
        from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
            events as sev,
        )

        src = sev.read_events_stream(spark, src_dir, max_files_per_trigger=1)
    else:
        src = read_stream(spark, src_dir)
    t0 = time.monotonic()
    q = (
        make_stream(src)
        .writeStream.format("memory")
        .queryName(f"bench_{name}")
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return _drain_stats(spark, q, name, t0)


def _progress_stats(q, t0: float) -> dict:
    """THE progress-report reduction every measured stream shares --
    memory-sink and foreachBatch drains alike; the caller supplies
    ``out_rows`` from wherever its output lives.  Stops the query."""
    wall = time.monotonic() - t0
    prog = [p for p in (q.recentProgress or []) if p.get("numInputRows", 0) > 0]
    trig_ms = sorted(p["durationMs"]["triggerExecution"] for p in prog)
    in_rows = sum(p["numInputRows"] for p in prog)
    q.stop()
    return {
        "wall_sec": round(wall, 3),
        "batches": len(trig_ms),
        "rows_per_sec": round(in_rows / (sum(trig_ms) / 1000.0), 1)
        if trig_ms
        else None,
        "median_batch_ms": trig_ms[len(trig_ms) // 2] if trig_ms else None,
        "max_batch_ms": trig_ms[-1] if trig_ms else None,
    }


def _drain_stats(spark, q, name: str, t0: float) -> dict:
    """Memory-sink flavor: the shared reduction + the sink row count."""
    stats = _progress_stats(q, t0)
    stats["out_rows"] = spark.table(f"bench_{name}").count()
    return stats


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    n_slices = int(os.environ.get("SPARK_GRAFT_STREAM_SLICES", "8"))

    from nyc_taxi_dataset_analysis_apache_hive_spark.session import get_spark

    spark = get_spark(app_name="bench_streaming")
    spark.sparkContext.setLogLevel("ERROR")
    return run_bench(spark, sf_dir, n_slices)


def run_anomaly_maintenance(spark, events_dir: str) -> dict:
    """The anomaly-monitor maintenance stream: foreachBatch folds
    each micro-batch into the versioned per-(key, day) count ledger, so
    the drain uses the stream's own writer (no memory sink).  Stats come
    from the same recentProgress reduction; ``out_rows`` is the number
    of monitor verdicts the post-drain rolling-z pass produces over the
    maintained series (the deployment read path)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import anomaly
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        events as sev,
        maintenance as mnt,
    )

    tmp = tempfile.mkdtemp(prefix="bench_anmnt_")
    try:
        state = os.path.join(tmp, "state")
        ckpt = os.path.join(tmp, "ckpt")
        src = sev.read_events_stream(spark, events_dir, max_files_per_trigger=1)
        t0 = time.monotonic()
        q = (
            mnt.anomaly_maintenance_stream(src, state, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        stats = _progress_stats(q, t0)
        series = mnt.read_sketch_state(spark, state)
        stats["out_rows"] = (
            anomaly.rolling_zscores(series).count() if series is not None else 0
        )
        return stats
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_linkage_maintenance(spark, sf_dir: str, n_slices: int) -> dict:
    """The entity-dictionary maintenance stream: the part table as
    a parquet drop zone, each micro-batch's (name, count, witness-id)
    dictionary folded into the versioned ledger; ``out_rows`` is the
    canonicalization read path's row count over the maintained state
    (every dictionary name gets a canon verdict)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import linkage
    from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_SCHEMAS
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    pdf = load_table(spark, sf_dir, "part").toPandas()
    tmp = tempfile.mkdtemp(prefix="bench_lkmnt_")
    try:
        parts_dir = os.path.join(tmp, "part")
        os.makedirs(parts_dir)
        n = len(pdf)
        for i in range(n_slices):
            pdf.iloc[n * i // n_slices : n * (i + 1) // n_slices].to_parquet(
                os.path.join(parts_dir, f"{i:03d}.parquet"), index=False
            )
        state = os.path.join(tmp, "state")
        ckpt = os.path.join(tmp, "ckpt")
        src = (
            spark.readStream.schema(TESTDATA_SCHEMAS["part"])
            .option("maxFilesPerTrigger", 1)
            .parquet(parts_dir)
        )
        t0 = time.monotonic()
        q = (
            mnt.linkage_maintenance_stream(
                src, state, ckpt, "p_name", "p_partkey"
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        stats = _progress_stats(q, t0)
        d = mnt.read_sketch_state(spark, state)
        stats["out_rows"] = (
            linkage.canonical_map(linkage.blocked_pairs(d), d).count()
            if d is not None
            else 0
        )
        return stats
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_graph_maintenance(spark, sf_dir: str, n_slices: int) -> dict:
    """The dup-pair-graph maintenance stream: the d3 MinHash-LSH
    pair table as a parquet drop zone, each micro-batch's symmetric
    edges folded into the versioned ledger as a distinct edge set;
    ``out_rows`` is the graph read path's row count over the maintained
    state (every vertex gets a PageRank and a triangle count)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, graph
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    docs = load_table(spark, sf_dir, "documents")
    pdf = (
        dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.2)
        .select("doc_a", "doc_b")
        .toPandas()
    )
    tmp = tempfile.mkdtemp(prefix="bench_grmnt_")
    try:
        pairs_dir = os.path.join(tmp, "pairs")
        os.makedirs(pairs_dir)
        n = len(pdf)
        for i in range(n_slices):
            pdf.iloc[n * i // n_slices : n * (i + 1) // n_slices].to_parquet(
                os.path.join(pairs_dir, f"{i:03d}.parquet"), index=False
            )
        state = os.path.join(tmp, "state")
        ckpt = os.path.join(tmp, "ckpt")
        src = (
            spark.readStream.schema(
                StructType(
                    [StructField("doc_a", LongType()), StructField("doc_b", LongType())]
                )
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(pairs_dir)
        )
        t0 = time.monotonic()
        q = (
            mnt.graph_maintenance_stream(src, state, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        stats = _progress_stats(q, t0)
        e = mnt.read_sketch_state(spark, state)
        stats["out_rows"] = (
            (graph.pagerank(e).count() + graph.triangle_counts(e).count())
            if e is not None
            else 0
        )
        stats["n_pairs"] = int(n)
        return stats
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_pca_maintenance(spark, sf_dir: str, n_slices: int) -> dict:
    """The PCA-moments maintenance stream: the embeddings table
    as a parquet drop zone, each micro-batch's (n, sum, X^T X) partials
    folded into the versioned ledger; ``out_rows`` is the maintained
    vector count and ``model_k`` confirms the read path fits a model
    from the kilobyte-sized state."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import pca
    from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_SCHEMAS
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    pdf = load_table(spark, sf_dir, "embeddings").toPandas()
    tmp = tempfile.mkdtemp(prefix="bench_pcamnt_")
    try:
        vecs_dir = os.path.join(tmp, "embeddings")
        os.makedirs(vecs_dir)
        n = len(pdf)
        for i in range(n_slices):
            pdf.iloc[n * i // n_slices : n * (i + 1) // n_slices].to_parquet(
                os.path.join(vecs_dir, f"{i:03d}.parquet"), index=False
            )
        state = os.path.join(tmp, "state")
        ckpt = os.path.join(tmp, "ckpt")
        src = (
            spark.readStream.schema(TESTDATA_SCHEMAS["embeddings"])
            .option("maxFilesPerTrigger", 1)
            .parquet(vecs_dir)
        )
        t0 = time.monotonic()
        q = (
            mnt.pca_maintenance_stream(src, state, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        stats = _progress_stats(q, t0)
        got = mnt.read_moments_state(spark, state)
        if got is not None:
            model = pca.model_from_moments(got[0], got[1], got[2], k=8)
            stats["out_rows"] = got[0]
            stats["model_k"] = model["k"]
        else:
            stats["out_rows"] = 0
        return stats
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_bench(spark, sf_dir: str, n_slices: int):
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import events as sev
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import stateful

    pdf = load_table(spark, sf_dir, "events").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    events_dir = os.path.join(tmp, "events")
    write_time_sliced(pdf, events_dir, n_slices)

    streams = {
        "tumbling": (sev.tumbling_counts_stream, "append"),
        "sliding": (sev.sliding_value_stats_stream, "append"),
        "session": (sev.sessionized_counts_stream, "append"),
        "dedup": (sev.dedup_events_stream, "append"),
        "stateful_totals": (stateful.running_user_totals_stream, "update"),
    }
    results = {}
    try:
        # warm the JVM/codegen paths once so measured batches are steady-state
        drain_and_measure(spark, sev.tumbling_counts_stream, events_dir, "warmup", "append")
        for name, (fn, mode) in streams.items():
            results[name] = drain_and_measure(spark, fn, events_dir, name, mode)
        # keeps reporting if the maintenance section fails (the
        # doc-stream posture below)
        try:
            results["anomaly_maintenance"] = run_anomaly_maintenance(
                spark, events_dir
            )
        except Exception as exc:  # noqa: BLE001 -- bench keeps reporting
            results["anomaly_maintenance"] = {
                "error": f"{type(exc).__name__}: {exc}"
            }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # the doc-stream section must not discard the event results already
    # measured above: record its failure as a row instead of raising
    try:
        doc_results, n_docs = run_doc_streams(spark, sf_dir, n_slices)
        results.update(doc_results)
    except Exception as exc:  # noqa: BLE001 -- bench keeps reporting
        n_docs = None
        results["doc_streams"] = {"error": f"{type(exc).__name__}: {exc}"}
    try:
        results.update(run_vec_streams(spark, sf_dir, n_slices))
    except Exception as exc:  # noqa: BLE001 -- bench keeps reporting
        results["vec_streams"] = {"error": f"{type(exc).__name__}: {exc}"}
    try:
        results["linkage_maintenance"] = run_linkage_maintenance(
            spark, sf_dir, n_slices
        )
    except Exception as exc:  # noqa: BLE001 -- bench keeps reporting
        results["linkage_maintenance"] = {
            "error": f"{type(exc).__name__}: {exc}"
        }
    try:
        results["graph_maintenance"] = run_graph_maintenance(
            spark, sf_dir, n_slices
        )
    except Exception as exc:  # noqa: BLE001 -- bench keeps reporting
        results["graph_maintenance"] = {
            "error": f"{type(exc).__name__}: {exc}"
        }
    try:
        results["pca_maintenance"] = run_pca_maintenance(
            spark, sf_dir, n_slices
        )
    except Exception as exc:  # noqa: BLE001 -- bench keeps reporting
        results["pca_maintenance"] = {
            "error": f"{type(exc).__name__}: {exc}"
        }

    print(
        json.dumps(
            {
                "metric": "streaming_microbench",
                "sf": sf_dir,
                "rows": int(len(pdf)),
                "doc_rows": n_docs,
                "slices": n_slices,
                "streams": results,
            }
        )
    )


def write_doc_slices(pdf, out: str, n_slices: int) -> None:
    """``documents`` rows as time-ordered parquet slices (doc i in slice s
    gets ts = base + s hours) + a far-future empty-text sentinel, mirroring
    the tests' drop-zone shape."""
    import pandas as pd

    os.makedirs(out)
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    n = len(pdf)
    for s in range(n_slices):
        chunk = pdf.iloc[n * s // n_slices : n * (s + 1) // n_slices].copy()
        chunk["ts"] = pd.Series(
            [base + pd.Timedelta(hours=s)] * len(chunk),
            dtype="datetime64[us]",
        ).values
        chunk.to_parquet(os.path.join(out, f"{s:03d}.parquet"), index=False)
    sent = pdf.iloc[[0]].copy()
    sent["doc_id"] = 10**9
    sent["text"] = ""
    sent["ts"] = pd.Series(
        [base + pd.Timedelta(days=2)], dtype="datetime64[us]"
    ).values
    sent.to_parquet(os.path.join(out, "zz_sentinel.parquet"), index=False)


def run_doc_streams(spark, sf_dir: str, n_slices: int):
    """The two document-drop-zone streams (decontamination against a
    protected gram set; DSIR admission against a persisted importance
    model), measured the same way as the event streams.  The static sides
    are prepared OUTSIDE the measured drain -- at deployment they are
    long-lived tables, not per-stream work."""
    from pyspark.sql import functions as F

    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, sampling
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation

    docs = load_table(spark, sf_dir, "documents")
    # protected set + importance model: even split / src0-target, the
    # test-suite shapes, materialized eagerly before the clock starts
    c_grams = dedup.corpus_gram_set(
        dedup.token_table(docs.filter(F.col("doc_id") % 2 == 0)), ngram_n=8
    ).localCheckpoint(eager=True)
    span_idx = curation.protected_span_index(
        docs.filter(F.col("doc_id") % 2 == 0)
    ).localCheckpoint(eager=True)
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    bloom_bits = dedup.bloom_filter_build(hist).localCheckpoint(eager=True)
    hist_fps = dedup.history_fingerprints(hist).localCheckpoint(eager=True)
    model = sampling.dsir_fit(
        docs.withColumn("is_target", F.col("source") == "src0"), "is_target"
    ).localCheckpoint(eager=True)

    probe_pdf = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .toPandas()
    )
    tmp = tempfile.mkdtemp(prefix="bench_docstream_")
    results = {}
    try:  # the write sits inside the try so a partial drop zone is removed
        docs_dir = os.path.join(tmp, "docs")
        write_doc_slices(probe_pdf, docs_dir, n_slices)
        results["decontam"] = drain_and_measure_docs(
            spark,
            lambda src: curation.decontam_stream(src, c_grams),
            docs_dir,
            "decontam",
        )
        results["dsir_admission"] = drain_and_measure_docs(
            spark,
            lambda src: curation.dsir_admission_stream(src, model),
            docs_dir,
            "dsir_admission",
        )
        results["span_decontam"] = drain_and_measure_docs(
            spark,
            lambda src: curation.span_decontam_stream(src, span_idx),
            docs_dir,
            "span_decontam",
        )
        results["bloom_admission"] = drain_and_measure_docs(
            spark,
            lambda src: curation.bloom_admission_stream(
                src, bloom_bits, hist_fps
            ),
            docs_dir,
            "bloom_admission",
        )
        # the quarantine emission over the same protected index --
        # out_rows is the QUARANTINED subset (threshold'd verdicts),
        # not every probe doc, by design
        results["span_quarantine"] = drain_and_measure_docs(
            spark,
            lambda src: curation.span_quarantine_stream(src, span_idx),
            docs_dir,
            "span_quarantine",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return results, int(len(probe_pdf))


def write_vec_slices(pdf, out: str, n_slices: int) -> None:
    """``embeddings`` rows as time-ordered parquet slices + a far-future
    EMPTY-vector sentinel (an all-None column would write as INT32 and
    break the stream schema; an empty vector is zero-norm and admits
    with NULL cell -- tests/test_streaming_admission.py's shape)."""
    import numpy as np
    import pandas as pd

    os.makedirs(out)
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    n = len(pdf)
    for s in range(n_slices):
        chunk = pdf.iloc[n * s // n_slices : n * (s + 1) // n_slices].copy()
        chunk["ts"] = pd.Series(
            [base + pd.Timedelta(hours=s)] * len(chunk),
            dtype="datetime64[us]",
        ).values
        chunk.to_parquet(os.path.join(out, f"{s:03d}.parquet"), index=False)
    sent = pdf.iloc[[0]].copy()
    sent["vec_id"] = 10**9
    sent["embedding"] = [np.array([], dtype=np.float32)]
    sent["ts"] = pd.Series(
        [base + pd.Timedelta(days=2)], dtype="datetime64[us]"
    ).values
    sent.to_parquet(os.path.join(out, "zz_sentinel.parquet"), index=False)


def run_vec_streams(spark, sf_dir: str, n_slices: int):
    """The embedding-drop-zone stream (semantic admission against
    the persisted cell-assignment state): even vec_ids are the corpus
    state, odd ids arrive as the stream -- the k3 admit leg's split.
    The state and centroid index are materialized OUTSIDE the measured
    drain (long-lived tables at deployment)."""
    from pyspark.sql import functions as F

    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import similarity
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 116)
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_emb"),
    )
    state = similarity.assign_to_centroids(
        emb.filter(F.col("vec_id") % 2 == 0), cents
    ).localCheckpoint(eager=True)
    batch_pdf = (
        emb.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
        .toPandas()
    )
    tmp = tempfile.mkdtemp(prefix="bench_vecstream_")
    try:
        vecs_dir = os.path.join(tmp, "vecs")
        write_vec_slices(batch_pdf, vecs_dir, n_slices)
        return {
            "semantic_admission": drain_and_measure_docs(
                spark,
                lambda src: curation.semantic_admission_stream(
                    src, state, cents, threshold=0.35
                ),
                vecs_dir,
                "semantic_admission",
                table="embeddings",
            )
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def drain_and_measure_docs(
    spark, make_stream, docs_dir: str, name: str, table: str = "documents"
):
    """drain_and_measure over a ``table``-rows drop zone: the same drain,
    trigger, and stats path, just a different source reader."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_SCHEMAS
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation

    zone = curation.drop_zone_schema(TESTDATA_SCHEMAS[table])
    return drain_and_measure(
        spark,
        make_stream,
        docs_dir,
        name,
        "append",
        read_stream=lambda sp, d: curation.read_docs_stream(
            sp, d, zone, max_files_per_trigger=1
        ),
    )


if __name__ == "__main__":
    sys.exit(main())
