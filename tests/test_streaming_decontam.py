"""Streaming decontamination (streaming/curation.py): the stream report,
its batch analog, and the driver-gated batch operator
(dedup.ngram_overlap_contamination) must agree document for document over
a multi-micro-batch file stream."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup
from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_SCHEMAS
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation
from perfbench.tracing import SparkCounters

#: far-future sentinel document: closes every real window before the
#: availableNow drain ends (append mode only emits watermark-passed
#: windows) -- same convention as tests/test_streaming.py
SENTINEL_ID = 10**9

#: the probe drop zone's files: documents rows plus their ``ts``
DOCS_ZONE = curation.drop_zone_schema(TESTDATA_SCHEMAS["documents"])


@pytest.fixture(scope="module")
def docs_split(spark):
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 2 == 1)
    return corpus, probes


@pytest.fixture(scope="module")
def probes_dir(spark, docs_split, tmp_path_factory):
    """Probe docs as 4 time-ordered parquet files + sentinel: doc i in
    slice s gets ts = base + s hours, so each file is one window-aligned
    micro-batch and the watermark advances monotonically."""
    _, probes = docs_split
    pdf = probes.toPandas().sort_values("doc_id").reset_index(drop=True)
    base = pd.Timestamp("2024-01-01 00:00:00")
    n = len(pdf)
    out = str(tmp_path_factory.mktemp("docs_stream") / "docs")
    os.makedirs(out)
    for s in range(4):
        chunk = pdf.iloc[n * s // 4 : n * (s + 1) // 4].copy()
        chunk["ts"] = pd.Series(
            [base + pd.Timedelta(hours=s)] * len(chunk), dtype="datetime64[us]"
        ).values
        chunk.to_parquet(os.path.join(out, f"{s:02d}.parquet"), index=False)
    sent = pdf.iloc[[0]].copy()
    sent["doc_id"] = SENTINEL_ID
    sent["text"] = ""
    sent["ts"] = pd.Series(
        [base + pd.Timedelta(days=2)], dtype="datetime64[us]"
    ).values
    sent.to_parquet(os.path.join(out, "zz_sentinel.parquet"), index=False)
    return out


def _report_map(rows):
    return {
        r["doc_id"]: (
            r["n_grams"],
            r["n_hits"],
            r["overlap_frac"],
            r["contaminated"],
        )
        for r in rows
        if r["doc_id"] != SENTINEL_ID
    }


def test_stream_matches_batch_and_operator(spark, docs_split, probes_dir):
    corpus, _ = docs_split
    c_grams = dedup.corpus_gram_set(dedup.token_table(corpus), ngram_n=8)
    stream = curation.decontam_stream(
        curation.read_docs_stream(spark, probes_dir, DOCS_ZONE),
        c_grams,
        ngram_n=8,
        threshold=0.2,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("decontam_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _report_map(spark.table("decontam_sink").collect())

    probes_static = spark.read.parquet(probes_dir).filter(
        F.col("doc_id") != SENTINEL_ID
    )
    batch = _report_map(
        curation.decontam_batch(
            probes_static, c_grams, ngram_n=8, threshold=0.2
        ).collect()
    )
    operator = {
        r["probe_id"]: (
            r["n_grams"],
            r["n_hits"],
            r["overlap_frac"],
            r["contaminated"],
        )
        for r in dedup.ngram_overlap_contamination(
            dedup.token_table(corpus),
            dedup.token_table(probes_static),
            ngram_n=8,
            threshold=0.2,
        ).collect()
    }
    assert got and got == batch == operator


def test_batch_analog_keeps_gramless_docs(spark, docs_split):
    """Documents with no grams (short/empty/NULL text) must stay in the
    report with n_grams = 0, NULL fraction, and an explicit
    contaminated = False (explode_outer, not explode)."""
    corpus, _ = docs_split
    c_grams = dedup.corpus_gram_set(dedup.token_table(corpus), ngram_n=8)
    from pyspark.sql import Row

    small = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text=None),
         Row(doc_id=3, text="only three words")]
    )
    rows = {
        r["doc_id"]: r
        for r in curation.decontam_batch(small, c_grams, ngram_n=8).collect()
    }
    assert set(rows) == {1, 2, 3}
    for i in (1, 2, 3):
        assert (rows[i]["n_grams"], rows[i]["n_hits"]) == (0, 0)
        assert rows[i]["overlap_frac"] is None
        assert rows[i]["contaminated"] is False


def test_read_docs_stream_explicit_schema_starts_on_empty_dropzone(
    spark, probes_dir, tmp_path_factory
):
    """The declared schema lets the monitor start BEFORE the first file
    lands, and opening a stream runs no job: no footer is read, on an
    empty drop zone or a populated one."""
    empty = str(tmp_path_factory.mktemp("empty_dropzone"))
    jobs = SparkCounters(spark)
    before = jobs.last_job_id()
    stream = curation.read_docs_stream(spark, empty, DOCS_ZONE)
    curation.read_docs_stream(spark, probes_dir, DOCS_ZONE)
    assert jobs.last_job_id() == before
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "doc_id", "text", "lang", "source", "n_chars", "ts",
    ]


def test_span_stream_matches_batch_and_operator(spark, docs_split, probes_dir):
    """The r14 verbatim-span report: the streaming fold (collect_list +
    aggregate HOF islands) must equal both its batch analog and the
    driver-gated operator pair for pair.  The sf0.001 parity corpus has
    no probe-side-only hot grams, so the index-side cap and the
    operator's both-sides cap coincide (the documented condition)."""
    corpus, _ = docs_split
    idx = curation.protected_span_index(corpus)
    stream = curation.span_decontam_stream(
        curation.read_docs_stream(spark, probes_dir, DOCS_ZONE), idx
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("span_decontam_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["probe_id"], r["corpus_id"]): (r["n_spans"], r["max_span_tokens"])
        for r in spark.table("span_decontam_sink").collect()
        if r["probe_id"] != SENTINEL_ID
    }

    probes_static = spark.read.parquet(probes_dir).filter(
        F.col("doc_id") != SENTINEL_ID
    )
    batch = {
        (r["probe_id"], r["corpus_id"]): (r["n_spans"], r["max_span_tokens"])
        for r in curation.span_decontam_batch(probes_static, idx).collect()
    }
    operator = {
        (r["probe_id"], r["corpus_id"]): (
            r["n_spans"],
            r["max_span_tokens"],
        )
        for r in dedup.cross_corpus_span_contamination(
            dedup.token_table(corpus), dedup.token_table(probes_static)
        ).collect()
    }
    assert got and got == batch == operator


def _span_corpus(spark):
    """Controlled quarantine corpus: corpus ids < probe ids (keep-first
    cuts land on probes), probes share no >= 12-token spans among
    THEMSELVES and no probe-side-only hot grams -- the documented
    conditions under which the streaming index-side view equals the
    batch scrub decision."""
    from pyspark.sql import Row

    span_a = " ".join(f"a{i}" for i in range(15))
    span_b = " ".join(f"b{i}" for i in range(12))
    span_c = " ".join(f"c{i}" for i in range(20))
    span_short = " ".join(f"s{i}" for i in range(11))
    corpus = spark.createDataFrame(
        [
            Row(doc_id=2, text=span_a + " f2x f2y " + span_b),
            Row(doc_id=4, text="f4x " + span_c + " f4y"),
            Row(doc_id=6, text="f6a f6b " + span_short + " f6c"),
        ]
    )
    probes = spark.createDataFrame(
        [
            Row(doc_id=101, text="p1x " + span_a + " p1y"),
            Row(doc_id=103, text=span_c + " p3x p3y " + span_b),
            Row(doc_id=105, text="p5x " + span_short + " p5y"),
            Row(doc_id=107, text="p7a p7b p7c entirely clean words"),
        ]
    )
    return corpus, probes


def test_span_quarantine_stream_matches_batch_and_scrub_decision(
    spark, tmp_path
):
    """The r15 quarantine drop-zone: stream == batch analog per document,
    the quarantined SET equals the keep-first batch scrub decision
    (span_scrub_stats cuts text from exactly these documents at the
    same threshold), and max_span_tokens equals the operator pair
    report's per-probe max."""
    corpus, probes = _span_corpus(spark)
    idx = curation.protected_span_index(corpus)

    out = str(tmp_path / "qdocs")
    os.makedirs(out)
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = probes.toPandas().sort_values("doc_id").reset_index(drop=True)
    for s in range(2):
        chunk = pdf.iloc[len(pdf) * s // 2 : len(pdf) * (s + 1) // 2].copy()
        chunk["ts"] = pd.Series(
            [base + pd.Timedelta(hours=s)] * len(chunk),
            dtype="datetime64[us]",
        ).values
        chunk.to_parquet(os.path.join(out, f"{s:02d}.parquet"), index=False)
    sent = pdf.iloc[[0]].copy()
    sent["doc_id"] = SENTINEL_ID
    sent["text"] = ""
    sent["ts"] = pd.Series(
        [base + pd.Timedelta(days=2)], dtype="datetime64[us]"
    ).values
    sent.to_parquet(os.path.join(out, "zz_sentinel.parquet"), index=False)

    stream = curation.span_quarantine_stream(
        curation.read_docs_stream(spark, out, DOCS_ZONE), idx, quarantine_tokens=12
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("span_quarantine_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["probe_id"]: r["max_span_tokens"]
        for r in spark.table("span_quarantine_sink").collect()
        if r["probe_id"] != SENTINEL_ID
    }
    batch = {
        r["probe_id"]: r["max_span_tokens"]
        for r in curation.span_quarantine_batch(
            probes, idx, quarantine_tokens=12
        ).collect()
    }
    assert got == batch == {101: 15, 103: 20}

    # the batch keep-first scrub at the same threshold cuts text from
    # exactly the quarantined documents (corpus ids < probe ids, so
    # every cross cut lands probe-side)
    both = dedup.token_table(corpus.unionByName(probes))
    cut_docs = {
        r["doc_id"]
        for r in dedup.span_scrub_stats(
            both, dedup.span_runs(dedup.positional_ngrams(both)), min_span=12
        ).collect()
        if r["tokens_removed"] > 0 and r["doc_id"] > 100
    }
    assert cut_docs == set(got)

    # per-probe max over the operator's pair report agrees
    op_max = {}
    for r in dedup.cross_corpus_span_contamination(
        dedup.token_table(corpus), dedup.token_table(probes), min_span=12
    ).collect():
        op_max[r["probe_id"]] = max(
            op_max.get(r["probe_id"], 0), r["max_span_tokens"]
        )
    assert op_max == got


def test_span_quarantine_diagonals_never_splice_across_partners(spark):
    """Adversarial splice: two corpus partners hold OVERLAPPING,
    one-token-offset slices of the probe's text, so their hit rows land
    on the SAME diagonal (diff) at CONSECUTIVE probe positions -- a fold
    that ignored corpus_id would chain them into one phantom 7-token
    run no single partner shares.  The per-partner fold must report two
    6-token spans and quarantine nothing at threshold 7."""
    from pyspark.sql import Row

    t = [f"t{i}" for i in range(10)]
    corpus = spark.createDataFrame(
        [
            # doc 2: exactly probe tokens 0..5 -> hit (diff=0, pb=0)
            Row(doc_id=2, text=" ".join(t[0:6])),
            # doc 4: one pad then probe tokens 1..6 -> hit (diff=0, pb=1)
            Row(doc_id=4, text="pad " + " ".join(t[1:7])),
        ]
    )
    probes = spark.createDataFrame([Row(doc_id=101, text=" ".join(t))])
    idx = curation.protected_span_index(corpus)
    # threshold 7 needs a 2-gram run; each partner contributes one gram
    assert (
        curation.span_quarantine_batch(
            probes, idx, quarantine_tokens=7
        ).count()
        == 0
    )
    # each partner pair alone is visible at its true 6-token length
    pairs = {
        (r["probe_id"], r["corpus_id"]): r["max_span_tokens"]
        for r in curation.span_decontam_batch(
            probes, idx, min_span=6
        ).collect()
    }
    assert pairs == {(101, 2): 6, (101, 4): 6}
    # and the quarantine fold agrees at the honest threshold
    q6 = {
        r["probe_id"]: r["max_span_tokens"]
        for r in curation.span_quarantine_batch(
            probes, idx, quarantine_tokens=6
        ).collect()
    }
    assert q6 == {101: 6}


def test_span_probe_guard_reports_fanout_per_trigger(
    spark, docs_split, probes_dir
):
    """The r15 probe-side guard: every trigger's StreamingQueryProgress
    carries observedMetrics['span_probe_guard'] with n_docs (heartbeat
    count == documents in the trigger) and hit_rows (index-join
    fan-out) -- the loud signal a boilerplate-heavy batch inflates
    instead of silently ballooning the join."""
    corpus, probes = docs_split
    idx = curation.protected_span_index(corpus)
    stream = curation.span_decontam_stream(
        curation.read_docs_stream(spark, probes_dir, DOCS_ZONE), idx
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("span_guard_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    seen = [
        p.observedMetrics["span_probe_guard"]
        for p in q.recentProgress
        if "span_probe_guard" in (p.observedMetrics or {})
    ]
    assert seen, "no trigger reported the span_probe_guard metrics"
    n_probes = probes.count() + 1  # + sentinel
    # a zero-row trigger reports NULL sums -- count it as 0
    assert sum(m["n_docs"] or 0 for m in seen) == n_probes
    # fan-out must equal the static hit-row count for the same corpus
    expect_hits = (
        curation._span_hit_rows(
            spark.read.parquet(probes_dir), idx, dedup.SPAN_WINDOW,
            "text", ts_col=None,
        )
        .filter(F.col("corpus_id").isNotNull())
        .count()
    )
    assert sum(m["hit_rows"] or 0 for m in seen) == expect_hits


def test_span_fold_handles_multi_run_and_boundary(spark):
    """The aggregate-HOF islands: two separate diagonals on one pair
    count as two spans, a run exactly at min_span qualifies, one below
    does not, and a pair with only sub-threshold runs is absent."""
    from pyspark.sql import Row

    span15 = " ".join(f"r{i}" for i in range(15))
    span12 = " ".join(f"q{i}" for i in range(12))
    span11 = " ".join(f"u{i}" for i in range(11))
    corpus = spark.createDataFrame(
        [
            Row(doc_id=2, text=span15 + " mid gap words " + span12),
            Row(doc_id=4, text="zz " + span11 + " yy"),
        ]
    )
    probes = spark.createDataFrame(
        [
            Row(doc_id=1, text=span15 + " other stuff " + span12),
            Row(doc_id=3, text="aa " + span11 + " bb"),
        ]
    )
    idx = curation.protected_span_index(corpus)
    rows = {
        (r.probe_id, r.corpus_id): (r.n_spans, r.max_span_tokens)
        for r in curation.span_decontam_batch(probes, idx).collect()
    }
    # doc 1 vs 2: the 15-span and the 12-span (both qualify); the
    # 11-span pair (3, 4) is invisible at min_span=12
    assert rows == {(1, 2): (2, 15)}


def test_span_heartbeat_never_fabricates_runs_at_low_min_span(spark):
    """Regression (r14 self-review): the heartbeat's NULL-diff struct
    used to fold as a length-1 run, so min_span <= span_window made
    every document -- clean ones included -- emit a (probe,
    NULL-corpus) span row.  The heartbeat must advance the watermark
    and nothing else."""
    from pyspark.sql import Row

    span = " ".join(f"h{i}" for i in range(8))
    corpus = spark.createDataFrame([Row(doc_id=2, text="x " + span)])
    probes = spark.createDataFrame(
        [
            Row(doc_id=1, text="y " + span),
            Row(doc_id=3, text="totally clean unrelated words entirely"),
        ]
    )
    idx = curation.protected_span_index(corpus, span_window=6)
    rows = curation.span_decontam_batch(
        probes, idx, span_window=6, min_span=6
    ).collect()
    got = {(r.probe_id, r.corpus_id): (r.n_spans, r.max_span_tokens)
           for r in rows}
    # ONLY the genuine pair; no NULL-corpus rows, nothing for doc 3
    assert got == {(1, 2): (1, 8)}
    assert all(r.corpus_id is not None for r in rows)
    op = {
        (r.probe_id, r.corpus_id): (r.n_spans, r.max_span_tokens)
        for r in dedup.cross_corpus_span_contamination(
            dedup.token_table(corpus),
            dedup.token_table(probes),
            window=6,
            min_span=6,
        ).collect()
    }
    assert got == op


def test_span_fold_is_heartbeat_position_invariant(spark):
    """Direct fold pin: the NULL-diff heartbeat element must fold to
    nothing whether array_sort places it before or after the real hits
    (struct NULL ordering is an engine detail the fold must not rely
    on).  Fed both orders explicitly, bypassing array_sort."""
    from pyspark.sql import Row

    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming.curation import (
        _span_run_cols,
    )

    hits = [Row(diff=3, pb=p) for p in range(10, 17)]  # one 7-window run
    hb = Row(diff=None, pb=None)
    for arr in ([hb] + hits, hits + [hb]):
        df = spark.createDataFrame(
            [(arr,)], "hits_arr array<struct<diff: long, pb: long>>"
        )
        r = df.select(*_span_run_cols(6, 12)).collect()[0]
        # 7 consecutive windows at w=6 -> one 12-token span
        assert (r.n_spans, r.max_span_tokens) == (1, 12), (arr, r)
    # heartbeat alone folds to zero runs
    df = spark.createDataFrame(
        [([hb],)], "hits_arr array<struct<diff: long, pb: long>>"
    )
    r = df.select(*_span_run_cols(6, 12)).collect()[0]
    assert r.n_spans == 0 and r.max_span_tokens is None
