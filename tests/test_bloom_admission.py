"""Portable Bloom-filter dedup admission (dedup.bloom_fingerprint_
admission): the no-false-negative law, forced false positives at a tiny
geometry, prebuilt-filter reuse with the artifact-geometry guard, and
position parity against a python md5 reference."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup
from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_SCHEMAS


def _docs(spark, texts: dict[int, str | None]):
    return spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )


def _ref_positions(fp: str, k: int, m: int) -> list[int]:
    return [
        int(hashlib.md5(f"bloom{i}:{fp}".encode()).hexdigest()[:15], 16) % m
        for i in range(k)
    ]


def test_positions_match_python_md5_reference(spark):
    fps = ["abc", "", "deadbeef" * 4]
    rows = (
        spark.createDataFrame([(f,) for f in fps], "fp string")
        .select("fp", dedup.bloom_bit_positions(F.col("fp")).alias("pos"))
        .collect()
    )
    for r in rows:
        assert list(r.pos) == _ref_positions(r.fp, dedup.BLOOM_K, dedup.BLOOM_M)


def test_no_false_negatives_and_classes_partition(spark):
    rng = random.Random(7)
    hist_texts = {i: f"history document number {i} " + " ".join(
        rng.choice("abcdef") for _ in range(10)) for i in range(40)}
    hist = _docs(spark, hist_texts)
    # batch: 10 exact copies (re-keyed) + 10 novel docs
    batch_texts = {1000 + i: hist_texts[i] for i in range(10)}
    batch_texts.update({2000 + i: f"novel text {i} entirely fresh" for i in range(10)})
    batch = _docs(spark, batch_texts)
    rep = {r.doc_id: r for r in
           dedup.bloom_fingerprint_admission(hist, batch).collect()}
    assert len(rep) == 20
    for i in range(10):
        r = rep[1000 + i]
        assert r.bloom_candidate and r.duplicate_exact and not r.admitted
    for i in range(10):
        r = rep[2000 + i]
        assert not r.duplicate_exact and r.admitted
    # classes partition: dup => candidate (no-FN law)
    assert all(r.bloom_candidate for r in rep.values() if r.duplicate_exact)


def test_tiny_geometry_forces_false_positives_but_never_negatives(spark):
    """m=16, k=2: with 60 history docs virtually every bit is set, so
    novel docs become bloom candidates (FP) -- yet the exact verify
    still admits them, and every true duplicate stays a candidate."""
    hist = _docs(spark, {i: f"doc {i} alpha beta" for i in range(60)})
    batch = _docs(
        spark,
        {1000: "doc 3 alpha beta", 2000: "completely new text here"},
    )
    rep = {r.doc_id: r for r in
           dedup.bloom_fingerprint_admission(
               hist, batch, bloom_bits=dedup.bloom_filter_build(hist, k=2, m=16)
           ).collect()}
    assert rep[1000].bloom_candidate and rep[1000].duplicate_exact
    assert rep[2000].bloom_candidate  # saturated filter: FP
    assert not rep[2000].duplicate_exact and rep[2000].admitted


def test_prebuilt_bits_reuse_and_geometry_guard(spark):
    """A prebuilt artifact probes exactly like the operator's own build,
    a non-default prebuilt filter is usable through its carried (k, m),
    and a bits-only artifact raises on every surface that reads the
    geometry: guessing its hash family would break the no-false-negative
    guarantee."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation

    hist = _docs(spark, {i: f"doc {i}" for i in range(20)})
    batch = _docs(spark, {100: "doc 7", 200: "fresh"})
    bits = dedup.bloom_filter_build(hist)
    want = {
        r.doc_id: (r.bloom_candidate, r.duplicate_exact)
        for r in dedup.bloom_fingerprint_admission(hist, batch).collect()
    }
    got = {
        r.doc_id: (r.bloom_candidate, r.duplicate_exact)
        for r in dedup.bloom_fingerprint_admission(
            hist, batch, bloom_bits=bits
        ).collect()
    }
    assert got == want
    nd = dedup.bloom_filter_build(hist, k=2, m=1 << 10)
    nd_rows = {
        r.doc_id: r.duplicate_exact
        for r in dedup.bloom_fingerprint_admission(
            hist, batch, bloom_bits=nd
        ).collect()
    }
    assert nd_rows[100] and not nd_rows[200]
    bits_only = nd.select("bits")
    fps = dedup.history_fingerprints(hist)
    surfaces = [
        lambda: dedup.bloom_fingerprint_admission(
            hist, batch, bloom_bits=bits_only
        ),
        lambda: curation.bloom_admission_batch(batch, bits_only, fps),
        lambda: curation.bloom_admission_stream(batch, bits_only, fps),
        lambda: dedup.bloom_filter_update(bits_only, batch),
        lambda: dedup.bloom_pack_words(bits_only),
    ]
    for surface in surfaces:
        with pytest.raises(ValueError, match="geometry-carrying"):
            surface()


def test_streaming_surfaces_share_the_geometry_election(spark):
    """The stream twins read (k, m) off the artifact, as the batch
    operator does: a non-default filter probes with its own geometry."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation

    hist = _docs(spark, {i: f"doc {i}" for i in range(10)})
    batch = _docs(spark, {100: "doc 7", 200: "fresh"})
    bits = dedup.bloom_filter_build(hist, k=3, m=1 << 12)
    fps = dedup.history_fingerprints(hist)
    got = {r.doc_id: r.duplicate_exact
           for r in curation.bloom_admission_batch(batch, bits, fps).collect()}
    assert got == {100: True, 200: False}


def test_bloom_geometry_sizing_holds_target_fp_rate(spark):
    """A filter sized by bloom_geometry for a 50k-doc history holds its
    target FP rate: the measured candidate rate on an all-clean 20k
    batch lands near p = 1% (the deployment sizing the r14 default
    geometry could not deliver -- there the same history saturates the
    filter and ~every clean doc becomes a candidate)."""
    k, m = dedup.bloom_geometry(50_000, target_fp=0.01)
    assert 6 <= k <= 8 and 450_000 <= m <= 510_000  # ~9.6 bits/doc, k=7
    hist = spark.range(50_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("history body "), F.col("id")).alias("text"),
    )
    clean = spark.range(20_000).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("novel body "), F.col("id")).alias("text"),
    )
    rep = dedup.bloom_fingerprint_admission(
        hist, clean, bloom_bits=dedup.bloom_filter_build(hist, k=k, m=m)
    )
    agg = rep.agg(
        F.avg(F.col("bloom_candidate").cast("double")).alias("rate"),
        F.sum(F.col("duplicate_exact").cast("long")).alias("dups"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert agg["n"] == 20_000 and agg["dups"] == 0
    # binomial(20k, 0.01): mean 200, sd ~14 -- [0.004, 0.02] is ~>14 sd
    assert 0.004 <= agg["rate"] <= 0.02, agg["rate"]


def test_bloom_filter_update_roundtrips_to_fresh_build(spark):
    """build -> admit -> update -> admit == a from-scratch build over
    history + admitted, bit-for-bit (the maintained-state-equals-rebuild
    invariant): bloom bits are a pure set union, so the updated artifact
    and the rebuilt one agree on every bit AND on every second-batch
    verdict."""
    hist = _docs(spark, {i: f"old doc {i}" for i in range(30)})
    batch1 = _docs(
        spark,
        {100 + i: f"wave one doc {i}" for i in range(10)}
        | {200: "old doc 3"},  # one dup: must NOT enter the filter
    )
    bits1 = dedup.bloom_filter_build(hist, k=4, m=1 << 12)
    rep1 = dedup.bloom_fingerprint_admission(
        hist, batch1, bloom_bits=bits1
    )
    admitted = batch1.join(
        rep1.filter("admitted").select("doc_id"), "doc_id"
    )
    bits2 = dedup.bloom_filter_update(bits1, admitted)
    fresh = dedup.bloom_filter_build(
        hist.unionByName(admitted), k=4, m=1 << 12
    )
    r2, rf = bits2.collect()[0], fresh.collect()[0]
    assert list(r2.bits) == list(rf.bits)
    assert (r2.k, r2.m) == (rf.k, rf.m) == (4, 1 << 12)
    # second admission: both artifacts give identical verdicts, and the
    # wave-one docs are now duplicates
    batch2 = _docs(
        spark,
        {300: "wave one doc 4", 301: "old doc 9", 302: "brand new"},
    )
    hist2 = hist.unionByName(admitted)
    v_upd = {
        r.doc_id: (r.bloom_candidate, r.duplicate_exact, r.admitted)
        for r in dedup.bloom_fingerprint_admission(
            hist2, batch2, bloom_bits=bits2
        ).collect()
    }
    v_fresh = {
        r.doc_id: (r.bloom_candidate, r.duplicate_exact, r.admitted)
        for r in dedup.bloom_fingerprint_admission(
            hist2, batch2, bloom_bits=fresh
        ).collect()
    }
    assert v_upd == v_fresh
    assert v_upd[300][1] and v_upd[301][1] and v_upd[302][2]


def test_packed_words_equal_positions_artifact(spark):
    """bloom_pack_words: every set position's bit is 1 in its word,
    every other bit 0, the array is dense (m/64 words), and probing a
    pre-packed artifact yields the same admission rows as the positions
    artifact (the O(1)-probe fast path is a pure re-representation)."""
    hist = _docs(spark, {i: f"doc {i}" for i in range(25)})
    bits = dedup.bloom_filter_build(hist, k=3, m=1 << 10)
    packed = dedup.bloom_pack_words(bits)
    brow, prow = bits.collect()[0], packed.collect()[0]
    assert (prow.k, prow.m) == (3, 1 << 10)
    assert len(prow.words) == (1 << 10) // 64
    unpacked = sorted(
        w * 64 + b
        for w, word in enumerate(prow.words)
        for b in range(64)
        if (word >> b) & 1
    )
    assert unpacked == list(brow.bits)
    batch = _docs(spark, {100: "doc 7", 200: "fresh text"})
    via_packed = {
        r.doc_id: (r.bloom_candidate, r.duplicate_exact)
        for r in dedup.bloom_fingerprint_admission(
            hist, batch, bloom_bits=packed
        ).collect()
    }
    via_positions = {
        r.doc_id: (r.bloom_candidate, r.duplicate_exact)
        for r in dedup.bloom_fingerprint_admission(
            hist, batch, bloom_bits=bits
        ).collect()
    }
    assert via_packed == via_positions


def test_bloom_geometry_formula_and_bounds():
    import math

    for n, p in [(1_000, 0.01), (50_000, 0.001), (10, 0.5)]:
        k, m = dedup.bloom_geometry(n, p)
        assert m >= n  # never fewer bits than members at p < 1
        assert k == max(1, round(m / n * math.log(2)))
        # the sized filter's theoretical FP rate meets the target
        fp = (1 - math.exp(-k * n / m)) ** k
        assert fp <= p * 1.05
    with pytest.raises(ValueError):
        dedup.bloom_geometry(0)
    with pytest.raises(ValueError):
        dedup.bloom_geometry(10, 1.0)


def test_filter_is_mergeable_and_bounded(spark):
    """bits is sorted/distinct and bounded by m; union of two shard
    filters equals the filter of the union (the maintenance law)."""
    a = _docs(spark, {i: f"shard a doc {i}" for i in range(30)})
    b = _docs(spark, {100 + i: f"shard b doc {i}" for i in range(30)})
    bits_a = dedup.bloom_filter_build(a).collect()[0].bits
    bits_b = dedup.bloom_filter_build(b).collect()[0].bits
    both = dedup.bloom_filter_build(a.unionByName(b)).collect()[0].bits
    assert list(both) == sorted(set(bits_a) | set(bits_b))
    assert bits_a == sorted(set(bits_a)) and len(bits_a) <= dedup.BLOOM_M


def test_candidate_only_join_plan(spark):
    """The exact verify must join only the candidate slice, broadcast
    the bloom row, and never plan a cartesian on the fingerprint."""
    hist = _docs(spark, {i: f"doc {i}" for i in range(30)})
    batch = _docs(spark, {100: "doc 7", 200: "fresh"})
    plan = (
        dedup.bloom_fingerprint_admission(hist, batch)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "bloom_candidate" in plan


def test_bloom_stream_matches_batch_and_operator(spark, tmp_path):
    """The stateless drop-zone form: stream == batch analog == the batch
    operator document for document.  No watermark machinery -- admission
    decisions emit the trigger they arrive, so no sentinel is needed."""
    import os

    import pandas as pd

    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation

    hist_texts = {i: f"history doc {i} words" for i in range(30)}
    hist = _docs(spark, hist_texts)
    batch_texts = {1000 + i: hist_texts[i] for i in range(8)}  # planted dups
    batch_texts.update({2000 + i: f"fresh doc {i}" for i in range(8)})

    out = str(tmp_path / "docs")
    os.makedirs(out)
    base = pd.Timestamp("2024-01-01 00:00:00")
    items = sorted(batch_texts.items())
    for s in range(2):
        chunk = pd.DataFrame(
            items[len(items) * s // 2 : len(items) * (s + 1) // 2],
            columns=["doc_id", "text"],
        )
        chunk["ts"] = pd.Series(
            [base + pd.Timedelta(hours=s)] * len(chunk), dtype="datetime64[us]"
        ).values
        chunk.to_parquet(os.path.join(out, f"{s:02d}.parquet"), index=False)

    bits = dedup.bloom_filter_build(hist).localCheckpoint(eager=True)
    hist_fps = dedup.history_fingerprints(hist).localCheckpoint(eager=True)
    stream = curation.bloom_admission_stream(
        curation.read_docs_stream(
            spark,
            out,
            curation.drop_zone_schema(TESTDATA_SCHEMAS["documents"]),
        ),
        bits,
        hist_fps,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("bloom_admit_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["bloom_candidate"], r["duplicate_exact"], r["admitted"])
        for r in spark.table("bloom_admit_sink").collect()
    }

    batch_docs = spark.read.parquet(out)
    analog = {
        r.doc_id: (r.bloom_candidate, r.duplicate_exact, r.admitted)
        for r in curation.bloom_admission_batch(
            batch_docs, bits, hist_fps
        ).collect()
    }
    operator = {
        r.doc_id: (r.bloom_candidate, r.duplicate_exact, r.admitted)
        for r in dedup.bloom_fingerprint_admission(hist, batch_docs).collect()
    }
    assert len(got) == 16
    assert got == analog == operator
    assert all(dup for (_, dup, _) in [got[1000 + i] for i in range(8)])
    assert all(adm for (_, _, adm) in [got[2000 + i] for i in range(8)])


def test_null_text_history_doc_is_duplicate_on_every_surface(spark):
    """Regression (r14 self-review): history_fingerprints pins the
    NULL-text coalesce -- a NULL-text history doc must be in BOTH
    artifacts (filter AND fp table), so a NULL/empty-text batch doc is
    duplicate_exact everywhere, never bloom-candidate-but-admitted."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation

    hist = _docs(spark, {1: None, 2: "real doc here"})
    batch = _docs(spark, {10: None, 11: "", 12: "novel words entirely"})
    op = {r.doc_id: (r.bloom_candidate, r.duplicate_exact, r.admitted)
          for r in dedup.bloom_fingerprint_admission(hist, batch).collect()}
    bits = dedup.bloom_filter_build(hist)
    fps = dedup.history_fingerprints(hist)
    an = {r.doc_id: (r.bloom_candidate, r.duplicate_exact, r.admitted)
          for r in curation.bloom_admission_batch(batch, bits, fps).collect()}
    assert op == an
    # NULL and '' normalize to the same fingerprint -> both duplicates
    assert op[10] == (True, True, False)
    assert op[11] == (True, True, False)
    assert op[12][1] is False and op[12][2] is True
