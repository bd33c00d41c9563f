"""Closed-form packing layouts (r15): python-recompute oracles over the
driver corpus, invariants on adversarial synthetic counts, overload
discipline, and plan pins.  The greedy packer's gates live in
test_packing.py; these cover pack_concat / pack_bucketed /
layout_stats."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import packing
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"
CTX = 64
N_SHARDS = 8


def _shard(doc_id: int) -> int:
    return (
        int(hashlib.md5(f"pack-v1:{doc_id}".encode()).hexdigest()[:15], 16)
        % N_SHARDS
    )


def _bucket(n: int) -> int:
    b = 1
    while b < n:
        b *= 2
    return min(b, CTX)


def _expected_concat(rows):
    """(doc_id -> (shard, start_offset)) by plain-Python replay."""
    by_shard: dict[int, list] = {}
    for doc_id, n in rows:
        if n > 0:
            by_shard.setdefault(_shard(doc_id), []).append((doc_id, n))
    out = {}
    for shard, docs in by_shard.items():
        off = 0
        for doc_id, n in sorted(docs):
            out[doc_id] = (shard, off)
            off += n
    return out


def _expected_bucketed(rows):
    """(doc_id -> (shard, bucket_len, bin_id, bin_slot, truncated))."""
    by_shard: dict[int, list] = {}
    for doc_id, n in rows:
        if n > 0:
            by_shard.setdefault(_shard(doc_id), []).append((doc_id, n))
    out = {}
    for shard, docs in by_shard.items():
        # slot within (shard, bucket) in doc_id order
        by_bucket: dict[int, list] = {}
        for doc_id, n in sorted(docs):
            by_bucket.setdefault(_bucket(min(n, CTX)), []).append((doc_id, n))
        # dense bin ids across (bucket_len, bin_seq) in order
        bins = []
        for bl in sorted(by_bucket):
            cap = CTX // bl
            for slot, (doc_id, n) in enumerate(by_bucket[bl]):
                bins.append((bl, slot // cap, doc_id, slot % cap, n))
        seen: dict[tuple, int] = {}
        for bl, bin_seq, doc_id, bin_slot, n in sorted(bins):
            bin_id = seen.setdefault((bl, bin_seq), len(seen))
            out[doc_id] = (shard, bl, bin_id, bin_slot, int(n > CTX))
    return out


def _doc_counts(spark):
    docs = load_table(spark, SF, "documents")
    return [
        (r["doc_id"], r["n"])
        for r in docs.select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.lower("text"), "[^a-z0-9]+"),
                    lambda x: x != F.lit(""),
                )
            ).cast("long").alias("n"),
        ).collect()
    ]


def test_pack_concat_matches_python_recompute(spark):
    docs = load_table(spark, SF, "documents")
    got = {
        r["doc_id"]: (r["shard"], r["start_offset"])
        for r in packing.pack_concat(
            packing.doc_token_counts(docs), context_len=CTX, n_shards=N_SHARDS
        ).collect()
    }
    assert got == _expected_concat(_doc_counts(spark))


def test_pack_concat_chunk_arithmetic(spark):
    docs = load_table(spark, SF, "documents")
    for r in packing.pack_concat(
        packing.doc_token_counts(docs), context_len=CTX, n_shards=N_SHARDS
    ).collect():
        assert r["start_chunk"] == r["start_offset"] // CTX
        assert r["end_chunk"] == (r["start_offset"] + r["n_tokens"] - 1) // CTX
        assert r["chunk_offset"] == r["start_offset"] % CTX
        assert r["end_chunk"] >= r["start_chunk"]


def test_pack_bucketed_matches_python_recompute(spark):
    docs = load_table(spark, SF, "documents")
    got = {
        r["doc_id"]: (
            r["shard"],
            r["bucket_len"],
            r["bin_id"],
            r["bin_slot"],
            r["truncated"],
        )
        for r in packing.pack_bucketed(
            packing.doc_token_counts(docs), context_len=CTX, n_shards=N_SHARDS
        ).collect()
    }
    assert got == _expected_bucketed(_doc_counts(spark))


def _counts_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, n_tokens long")


#: adversarial count sets: exact powers of two, ctx itself, ctx+1
#: (truncation), 1-token docs, a giant doc, zero/NULL counts
_ADVERSARIAL = [
    (1, 1),
    (2, 2),
    (3, 63),
    (4, 64),
    (5, 65),
    (6, 99),
    (7, 1000),
    (8, 31),
    (9, 32),
    (10, 33),
    (11, 0),
    (12, None),
    (13, 7),
    (14, 17),
    (15, 64),
]


def test_bucketed_capacity_invariant_adversarial(spark):
    """No bin's occupancy (sum of bucket slots) may exceed the context
    -- the closed-form capacity proof, exercised on counts that sit ON
    every boundary."""
    b = packing.pack_bucketed(
        _counts_df(spark, _ADVERSARIAL), context_len=CTX, n_shards=3
    )
    occ = (
        b.groupBy("shard", "bin_id")
        .agg(
            F.sum("bucket_len").alias("occ"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("bucket_len").alias("nbl"),
        )
        .collect()
    )
    assert occ, "adversarial corpus must produce bins"
    for r in occ:
        assert r["occ"] <= CTX
        assert r["nbl"] == 1  # a bin never mixes bucket sizes
    rows = b.collect()
    placed = {r["doc_id"] for r in rows}
    assert placed == {d for d, n in _ADVERSARIAL if n and n > 0}
    by_doc = {r["doc_id"]: r for r in rows}
    assert by_doc[7]["truncated"] == 1 and by_doc[7]["bucket_len"] == CTX
    assert by_doc[5]["truncated"] == 1
    assert by_doc[4]["truncated"] == 0 and by_doc[4]["bucket_len"] == CTX


def test_concat_offsets_contiguous_adversarial(spark):
    """Per shard: offsets tile the stream exactly (no gap, no overlap),
    zero/NULL-count docs excluded."""
    c = packing.pack_concat(
        _counts_df(spark, _ADVERSARIAL), context_len=CTX, n_shards=3
    )
    rows = c.collect()
    assert {r["doc_id"] for r in rows} == {
        d for d, n in _ADVERSARIAL if n and n > 0
    }
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        off = 0
        for r in sorted(rs, key=lambda r: r["doc_id"]):
            assert r["start_offset"] == off
            off += r["n_tokens"]


def test_layouts_deterministic_under_repartition(spark):
    docs = load_table(spark, SF, "documents")
    counts = packing.doc_token_counts(docs)
    base_c = sorted(map(tuple, packing.pack_concat(counts).collect()))
    base_b = sorted(map(tuple, packing.pack_bucketed(counts).collect()))
    shuffled = packing.doc_token_counts(docs.repartition(7))
    assert sorted(map(tuple, packing.pack_concat(shuffled).collect())) == base_c
    assert (
        sorted(map(tuple, packing.pack_bucketed(shuffled).collect())) == base_b
    )


def test_layouts_reject_bad_geometry(spark):
    counts = _counts_df(spark, [(0, 5)])
    with pytest.raises(ValueError, match="context_len"):
        packing.pack_concat(counts, context_len=0)
    with pytest.raises(ValueError, match="n_shards"):
        packing.pack_bucketed(counts, n_shards=0)


def test_layout_stats_recompute(spark):
    c = packing.pack_concat(
        _counts_df(spark, _ADVERSARIAL), context_len=CTX, n_shards=3
    )
    b = packing.pack_bucketed(
        _counts_df(spark, _ADVERSARIAL), context_len=CTX, n_shards=3
    )
    stats = {
        (r["op"], r["shard"]): r
        for r in packing.layout_stats(c, b, context_len=CTX).collect()
    }
    crows = c.collect()
    brows = b.collect()
    for shard in {r["shard"] for r in crows}:
        rs = [r for r in crows if r["shard"] == shard]
        tok = sum(r["n_tokens"] for r in rs)
        nseq = (tok + CTX - 1) // CTX
        s = stats[("concat", shard)]
        assert s["n_docs"] == len(rs)
        assert s["n_seqs"] == nseq
        assert s["pad_tokens"] == nseq * CTX - tok
        assert s["n_flagged"] == sum(
            1 for r in rs if r["end_chunk"] > r["start_chunk"]
        )
    for shard in {r["shard"] for r in brows}:
        rs = [r for r in brows if r["shard"] == shard]
        eff = sum(min(r["n_tokens"], CTX) for r in rs)
        nbins = max(r["bin_id"] for r in rs) + 1
        s = stats[("bucket", shard)]
        assert s["n_docs"] == len(rs)
        assert s["n_seqs"] == nbins
        assert s["pad_tokens"] == nbins * CTX - eff
        assert s["pad_tokens"] >= 0
        assert s["n_flagged"] == sum(r["truncated"] for r in rs)


def test_layouts_plan_jvm_side_and_shard_partitioned(spark):
    """Both layouts must stay off the Python path entirely (contrast
    the sanctioned applyInPandas greedy packer) and must window BY
    SHARD -- a single-partition window here would serialize the corpus
    through one task."""
    counts = packing.doc_token_counts(load_table(spark, SF, "documents"))
    for df in (packing.pack_concat(counts), packing.pack_bucketed(counts)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan
        assert "SinglePartition" not in plan, plan[:2000]


# ---------------------------------------------------------------------------
# Hypothesis-randomized parity (the span-family discipline): arbitrary
# token-count corpora, as count tables, against the plain-Python
# replays above.  derandomize=True keeps CI deterministic.
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@pytest.mark.scale
@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    counts=st.lists(
        st.integers(min_value=0, max_value=3 * CTX),
        min_size=1,
        max_size=40,
    ),
    ctx=st.sampled_from([7, 16, 64]),  # non-power-of-two cap included
)
def test_hypothesis_layouts_match_python(spark, counts, ctx):
    rows = [(i, n) for i, n in enumerate(counts)]
    cdf = _counts_df(spark, rows)
    c = packing.pack_concat(cdf, context_len=ctx, n_shards=N_SHARDS)
    b = packing.pack_bucketed(cdf, context_len=ctx, n_shards=N_SHARDS)

    # concat vs python replay (shard + offset pin the whole layout)
    got_c = {
        r["doc_id"]: (r["shard"], r["start_offset"]) for r in c.collect()
    }
    assert got_c == _expected_concat(rows)

    # bucketed: replay with the ctx-parametric bucket rule
    def bucket(n):
        p = 1
        while p < n:
            p *= 2
        return min(p, ctx)

    by_shard: dict[int, list] = {}
    for d, n in rows:
        if n > 0:
            by_shard.setdefault(_shard(d), []).append((d, min(n, ctx)))
    want_b = {}
    for shard, docs in by_shard.items():
        by_bucket: dict[int, list] = {}
        for d, ne in sorted(docs):
            by_bucket.setdefault(bucket(ne), []).append(d)
        seen: dict[tuple, int] = {}
        order = []
        for bl in sorted(by_bucket):
            cap = ctx // bl
            for slot, d in enumerate(by_bucket[bl]):
                order.append((bl, slot // cap, d, slot % cap))
        for bl, bin_seq, d, bin_slot in sorted(order):
            bin_id = seen.setdefault((bl, bin_seq), len(seen))
            want_b[d] = (shard, bl, bin_id, bin_slot)
    got_b = {
        r["doc_id"]: (r["shard"], r["bucket_len"], r["bin_id"], r["bin_slot"])
        for r in b.collect()
    }
    assert got_b == want_b

    # the capacity bound survives every random corpus
    from pyspark.sql import functions as FF

    occ = (
        b.groupBy("shard", "bin_id")
        .agg(FF.sum("bucket_len").alias("occ"))
        .agg(FF.max("occ"))
        .first()[0]
    )
    assert occ is None or occ <= ctx
