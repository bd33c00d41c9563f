"""Direct unit tests for hybrid retrieval (operators/retrieval.py, the
tv1 ``dense``/``hybrid`` legs): dense_topk goldens (seed exclusion,
tie-break ranking, zero-norm/NULL/missing seed degradation), hybrid_topk
parity vs a pure-Python RRF recompute from its two input rank tables
(the test_rrf.py precedent), degradation to the surviving leg, and the
WindowGroupLimit plan shape the dense leg ships under."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import (
    dedup,
    retrieval,
    textops,
)

_EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)


def _emb(spark, rows):
    return spark.createDataFrame(
        [(int(i), None if v is None else [float(x) for x in v]) for i, v in rows],
        _EMB_SCHEMA,
    )


def _micro(rank, rrf_k=60):
    return math.floor(1_000_000.0 / (rrf_k + float(rank)))


@pytest.fixture(scope="module")
def toy_emb(spark):
    # 0: x-axis seed; 1: orthogonal; 2/3: diagonal ties; 4: zero-norm
    # (dropped by the normalize stage); 5: NULL embedding (dropped)
    return _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 1.0]),
            (3, [1.0, -1.0]),
            (4, [0.0, 0.0]),
            (5, None),
        ],
    )


def test_dense_topk_golden_excludes_seed_and_breaks_ties_by_id(spark, toy_emb):
    out = retrieval.dense_topk(toy_emb, query_vecs={"qa": 0}, k=10).collect()
    assert all(r["query"] == "qa" for r in out)
    got = [(r["rank"], r["doc_id"], r["cosine"]) for r in sorted(out, key=lambda r: r["rank"])]
    d = round(1.0 / math.sqrt(2.0), 6)
    # seed 0 excluded; zero-norm 4 and NULL 5 never candidates; the two
    # diagonal docs tie at cos=1/sqrt(2) and break by ascending doc_id
    assert got == [(1, 2, d), (2, 3, d), (3, 1, 0.0)]


def test_dense_topk_zero_norm_null_and_missing_seeds_yield_no_rows(
    spark, toy_emb
):
    out = retrieval.dense_topk(
        toy_emb, query_vecs={"qz": 4, "qn": 5, "qm": 99, "qa": 0}, k=10
    )
    by_q = {
        q: n
        for q, n in out.groupBy("query").count().collect()
    }
    # only the valid seed produces a ranking; seeds with no unit vector
    # (zero-norm, NULL, absent id) degrade to zero rows for their query
    assert by_q == {"qa": 3}


def test_dense_topk_k_truncates(spark, toy_emb):
    out = retrieval.dense_topk(toy_emb, query_vecs={"qa": 0}, k=2).collect()
    assert sorted(r["rank"] for r in out) == [1, 2]


def test_dense_topk_rejects_empty_query_map(spark, toy_emb):
    with pytest.raises(ValueError):
        retrieval.dense_topk(toy_emb, query_vecs={})


def test_hybrid_default_query_universe_matches_bm25():
    assert set(retrieval.HYBRID_QUERY_VECS) == set(textops.BM25_TOPK_QUERIES)


def _rank_table(spark, rows, score_col):
    return spark.createDataFrame(
        [
            Row(query=q, doc_id=d, rank=r, **{score_col: 0.5})
            for q, d, r in rows
        ]
    )


def test_hybrid_topk_matches_python_recompute(spark):
    """Feed lexical/dense rank tables and compare the fused top-k to a
    from-scratch Python RRF over the same (query, doc_id, rank) rows."""
    lex_rows = [
        ("qa", 10, 1),
        ("qa", 11, 2),
        ("qa", 12, 3),
        ("qb", 20, 1),
        ("qb", 21, 2),
    ]
    den_rows = [
        ("qa", 11, 1),
        ("qa", 13, 2),
        ("qb", 21, 1),
        ("qb", 20, 2),
        ("qb", 22, 3),
    ]
    lexical = _rank_table(spark, lex_rows, "score")
    dense = _rank_table(spark, den_rows, "cosine")
    got = {
        (r["query"], r["doc_id"]): (r["rank"], r["rrf_score"])
        for r in retrieval.hybrid_topk(lexical, dense, k=3).collect()
    }
    acc: dict = {}
    for q, d, r in lex_rows + den_rows:
        acc[(q, d)] = acc.get((q, d), 0) + _micro(r)
    expect: dict = {}
    by_q: dict = {}
    for (q, d), m in acc.items():
        by_q.setdefault(q, []).append((-m, d))
    for q, lst in by_q.items():
        for i, (negm, d) in enumerate(sorted(lst)[:3]):
            expect[(q, d)] = (i + 1, -negm / 1_000_000.0)
    assert got == expect
    # consensus effect: doc 11 (both legs, ranks 2+1) outranks doc 10
    # (single leg, rank 1) for qa
    assert got[("qa", 11)][0] == 1
    assert got[("qa", 10)][0] == 2


def test_hybrid_topk_degrades_to_surviving_leg(spark):
    """A query whose dense seed was dropped (zero-norm/NULL) appears only
    in the lexical table; its fused ranking must be the lexical ranking
    re-scored by single-leg RRF (same order, RRF-transformed scores)."""
    lex_rows = [("qz", 30, 1), ("qz", 31, 2), ("qz", 32, 3)]
    lexical = _rank_table(spark, lex_rows, "score")
    dense = _rank_table(spark, [("qa", 30, 1)], "cosine")
    out = [
        (r["rank"], r["doc_id"], r["rrf_score"])
        for r in retrieval.hybrid_topk(lexical, dense, k=10)
        .filter(F.col("query") == "qz")
        .collect()
    ]
    expect = [
        (i, d, _micro(i) / 1_000_000.0) for i, (_, d, _r) in enumerate(lex_rows, 1)
    ]
    assert sorted(out) == expect


def test_dense_topk_plan_pre_prunes_topk_map_side(spark, sf0001_dir):
    """The dense leg's scale claim: the rank<=k filter must plan as
    WindowGroupLimit (map-side per-query top-k BEFORE the shuffle), the
    named seed map must broadcast, and the corpus may never sit on a
    non-broadcast join side (the k1 plan contract)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import (
        explain_str,
    )

    emb = spark.read.parquet(f"{sf0001_dir}/embeddings.parquet")
    plan = explain_str(retrieval.dense_topk(emb), "simple")
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_dense_topk_matches_tv1_oracle_shape_on_real_data(spark, sf0001_dir):
    """End-to-end on the driver tables: every default query ranks
    exactly k docs (sf0.001 has >> k valid vectors), ranks are
    contiguous from 1, and the seed never appears in its own ranking."""
    emb = spark.read.parquet(f"{sf0001_dir}/embeddings.parquet")
    rows = retrieval.dense_topk(emb).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query"], []).append(r)
    assert set(by_q) == set(retrieval.HYBRID_QUERY_VECS)
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(
            range(1, retrieval.HYBRID_K + 1)
        )
        assert retrieval.HYBRID_QUERY_VECS[q] not in {r["doc_id"] for r in rs}


def test_dense_topk_ivf_recall_and_shape(spark, sf0001_dir):
    """The scale path: IVF-probed named-seed ranking must (a) keep the
    output contract (k rows per query, contiguous ranks, seed excluded),
    (b) return EXACT cosines for whatever it scores (every (query, doc)
    it returns appears in brute's full scoring with the same cosine),
    and (c) reach reasonable recall@k vs brute force at the fixed-slice
    settings (the cosine_topk_ivf gate's posture)."""
    emb = spark.read.parquet(f"{sf0001_dir}/embeddings.parquet")
    brute = retrieval.dense_topk(emb, k=10).collect()
    ivf = retrieval.dense_topk(emb, k=10, method="ivf").collect()
    b_by_q: dict = {}
    for r in brute:
        b_by_q.setdefault(r["query"], set()).add(r["doc_id"])
    full = {
        (r["query"], r["doc_id"]): r["cosine"]
        for r in retrieval.dense_topk(emb, k=10**9).collect()
    }
    i_by_q: dict = {}
    for r in ivf:
        i_by_q.setdefault(r["query"], []).append(r)
        # exactness: the approximate path never invents a score
        assert full[(r["query"], r["doc_id"])] == r["cosine"]
        assert retrieval.HYBRID_QUERY_VECS[r["query"]] != r["doc_id"]
    recalls = []
    for q, rs in i_by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        recalls.append(
            len({r["doc_id"] for r in rs} & b_by_q[q]) / len(b_by_q[q])
        )
    assert set(i_by_q) == set(retrieval.HYBRID_QUERY_VECS)
    # fixed-slice centroids on synthetic data: same operating point the
    # k2 ivf gate accepts (probe fraction bounds recall by construction)
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_dense_topk_ivf_plan_never_cross_joins_corpus(spark, sf0001_dir):
    """The IVF leg's scale claim: candidate generation is a cent_id
    equi-join -- the only cross joins in the plan are broadcast-tiny
    (seed map x centroids); the corpus side must reach the scoring join
    via BroadcastHashJoin on cent_id, and the rank filter must still
    pre-prune map-side."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import (
        explain_str,
    )

    emb = spark.read.parquet(f"{sf0001_dir}/embeddings.parquet")
    plan = explain_str(retrieval.dense_topk(emb, method="ivf"), "simple")
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_dense_topk_rejects_unknown_method(spark, toy_emb):
    with pytest.raises(ValueError, match="method"):
        retrieval.dense_topk(toy_emb, method="annoy")


def test_hybrid_topk_accepts_ivf_dense_leg(spark, sf0001_dir):
    """The fusion composes with the scale path: fusing bm25_topk with
    the IVF ranking yields a valid fused ranking whose non-dense
    evidence is unchanged (lexical-only queries rank identically)."""
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf0001_dir}/embeddings.parquet")
    terms = sorted({t for ts in textops.BM25_TOPK_QUERIES.values() for t in ts})
    lex = textops.bm25_topk(
        textops.bm25_term_scores(dedup.token_table(docs), terms)
    )
    ivf = retrieval.dense_topk(emb, method="ivf")
    fused = retrieval.hybrid_topk(lex, ivf)
    rows = fused.collect()
    assert rows
    for q, rs in _group(rows).items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))


def _group(rows):
    out: dict = {}
    for r in rows:
        out.setdefault(r["query"], []).append(r)
    return out
