"""Reciprocal-rank fusion (similarity.rrf_fuse): hand-computed golden,
missing-id semantics (an id absent from a method contributes nothing),
tie-break totality, and the WindowGroupLimit plan shape the k2 ``rrf``
leg ships under."""

from __future__ import annotations

import math

from pyspark.sql import Row

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import similarity


def _ranked(spark, rows):
    return spark.createDataFrame(
        [Row(method=m, query_id=q, neighbor_id=n, rank=r) for m, q, n, r in rows]
    )


def _micro(rank, rrf_k=60):
    return math.floor(1_000_000.0 / (rrf_k + float(rank)))


def test_hand_computed_fusion(spark):
    # two methods, one query: doc 10 is rank 1+2, doc 11 rank 2 in one
    # method only, doc 12 rank 1 in the other only
    rows = [
        ("a", 0, 10, 1),
        ("a", 0, 11, 2),
        ("b", 0, 10, 2),
        ("b", 0, 12, 1),
    ]
    out = {
        r["neighbor_id"]: r
        for r in similarity.rrf_fuse(_ranked(spark, rows), k=3).collect()
    }
    exp10 = _micro(1) + _micro(2)
    exp1x = _micro(1)
    exp2x = _micro(2)
    assert out[10]["rrf_score"] == exp10 / 1_000_000.0
    assert out[12]["rrf_score"] == exp1x / 1_000_000.0
    assert out[11]["rrf_score"] == exp2x / 1_000_000.0
    # fused order: 10 (both) > 12 (one rank-1) > 11 (one rank-2)
    assert [out[i]["rank"] for i in (10, 12, 11)] == [1, 2, 3]


def test_ties_break_by_id_and_k_truncates(spark):
    # same contribution for three docs -> rank by ascending id; k=2 cuts
    rows = [("a", 0, 30, 1), ("a", 1, 20, 1), ("b", 1, 30, 1), ("a", 1, 7, 1)]
    out = similarity.rrf_fuse(_ranked(spark, rows), k=2).collect()
    q1 = sorted(
        [(r["rank"], r["neighbor_id"]) for r in out if r["query_id"] == 1]
    )
    assert q1 == [(1, 7), (2, 20)]  # 30 tied but truncated at k=2 by id order


def test_fusion_matches_python_recompute_on_k2_shape(spark, sf0001_dir):
    """Fuse the real k2 method rankings and compare to a from-scratch
    Python RRF over the same rank tables."""
    emb = spark.read.parquet(f"{sf0001_dir}/embeddings.parquet")
    lsh = similarity.cosine_topk_lsh(emb, k=5, n_queries=8, n_bits=4)
    ivf = similarity.cosine_topk_ivf(
        emb,
        similarity.ivf_assign(emb, similarity.default_centroids(emb)),
        k=5,
        n_queries=8,
        n_probe=3,
    )
    allm = lsh.select("query_id", "neighbor_id", "rank").unionByName(
        ivf.select("query_id", "neighbor_id", "rank")
    )
    got = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["rrf_score"])
        for r in similarity.rrf_fuse(allm, k=5).collect()
    }
    acc: dict = {}
    for r in allm.collect():
        key = (r["query_id"], r["neighbor_id"])
        acc[key] = acc.get(key, 0) + _micro(r["rank"])
    expect = {}
    by_q: dict = {}
    for (q, n), m in acc.items():
        by_q.setdefault(q, []).append((-m, n))
    for q, lst in by_q.items():
        for i, (negm, n) in enumerate(sorted(lst)[:5]):
            expect[(q, n)] = (i + 1, -negm / 1_000_000.0)
    assert got == expect


# ---------------------------------------------------------------------------
# Randomized parity against an INDEPENDENT pure-Python RRF (r10 verdict
# task 7; the test_bm25_matches_independent_reference precedent): the
# goldens above replicate the operator's micro arithmetic -- this
# reference derives fusion from the TEXTBOOK float formula from scratch,
# covering ties, ids missing from some methods, duplicate (method, id)
# rows, and non-contiguous ranks.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _rrf_reference(rows, k=5, rrf_k=60):
    """From-scratch RRF (Cormack et al. 2009): float 1/(k+r) sums per
    (query, id), top-k per query ordered by score desc then id asc.
    Returns {(query, id): fused_rank}."""
    import collections

    score: dict = collections.defaultdict(float)
    for _m, q, n, r in rows:
        score[(q, n)] += 1.0 / (rrf_k + r)
    out = {}
    by_q: dict = collections.defaultdict(list)
    for (q, n), s in score.items():
        by_q[q].append((-s, n))
    for q, lst in by_q.items():
        for i, (_negs, n) in enumerate(sorted(lst)[:k]):
            out[(q, n)] = i + 1
    return out


_row_strat = st.tuples(
    st.sampled_from(["m1", "m2", "m3"]),  # method tag (ignored by fusion)
    st.integers(min_value=0, max_value=2),  # query
    st.integers(min_value=10, max_value=18),  # neighbor id
    st.integers(min_value=1, max_value=9),  # rank (non-contiguous OK)
)


@settings(max_examples=12, deadline=None, derandomize=True)
@given(rows=st.lists(_row_strat, min_size=1, max_size=24), k=st.integers(1, 4))
def test_rrf_matches_independent_reference(spark, rows, k):
    """Fused RANKS agree with the float reference wherever the float
    ordering is unambiguous; micro-floor quantization can only merge
    scores the float formula separates by < 1e-6, in which case both
    sides still hold a total order (id tie-break) over the same top-k
    candidate multiset.  Scores agree to the floor truncation bound."""
    expect = _rrf_reference(rows, k=k)
    got = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["rrf_score"])
        for r in similarity.rrf_fuse(_ranked(spark, rows), k=k).collect()
    }
    assert set(got) == set(expect)
    # per-(query,id) float score recomputed for the bound check
    import collections

    fscore: dict = collections.defaultdict(float)
    n_contrib: dict = collections.defaultdict(int)
    for _m, q, n, r in rows:
        fscore[(q, n)] += 1.0 / (60 + r)
        n_contrib[(q, n)] += 1
    for key, (rank, score) in got.items():
        # each contribution floors away < 1e-6
        assert 0 <= fscore[key] - score < n_contrib[key] * 1e-6 + 1e-12, key
        # rank parity unless the float gap to a differently-ranked doc is
        # inside the quantization bound
        if rank != expect[key]:
            others = [
                fscore[k2]
                for k2 in fscore
                if k2[0] == key[0] and k2 != key
            ]
            assert any(
                abs(fscore[key] - o) < (n_contrib[key] + 1) * 1e-6
                for o in others
            ), (key, rank, expect[key])


def test_rrf_plan_is_tiny_and_group_limited(spark, sf0001_dir):
    from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import (
        explain_str,
    )

    emb = spark.read.parquet(f"{sf0001_dir}/embeddings.parquet")
    lsh = similarity.cosine_topk_lsh(emb, k=5, n_queries=8).select(
        "query_id", "neighbor_id", "rank"
    )
    plan = explain_str(similarity.rrf_fuse(lsh), "simple")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
