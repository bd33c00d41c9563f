"""Okapi BM25 scoring (textops.bm25_scores): hand-computed tiny-corpus
golden, partitioning invariance (the BIGINT micro-unit sum must make the
doubles independent of partitioning -- the property the driver oracle's
value hash needs), and edge laws (NULL text, no-match docs, empty query).

The test replicates the operator's EXACT float arithmetic (same
association order, same micro-unit truncation) rather than a looser
approximate check, because bit-identity across engines is the contract
the tv1 ``bm25`` leg ships under (test_ngram_lm.py precedent)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, textops


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def _scores(docs, query_terms):
    """bm25_scores over a term relation built for exactly these terms."""
    ts = textops.bm25_term_scores(dedup.token_table(docs), query_terms)
    return textops.bm25_scores(ts, query_terms)


def _topk(docs, queries=None, k=textops.BM25_TOPK_K):
    """bm25_topk over a term relation built for the union of the
    queries' terms."""
    qs = textops.BM25_TOPK_QUERIES if queries is None else queries
    terms = sorted({t for ts in qs.values() for t in ts})
    ts = textops.bm25_term_scores(dedup.token_table(docs), terms)
    return textops.bm25_topk(ts, queries, k)


def _micro(x: float) -> int:
    return math.floor(x * 1_000_000.0 + 1e-9)


def _trunc4(x: float) -> float:
    return math.floor(x * 10_000.0 + 1e-7) / 10_000.0


def _expected_score(term_stats, dl, n_docs, avgdl, k1=1.2, b=0.75):
    """Python replica of the operator's per-doc score: term_stats is a
    list of (tf, df) pairs for the matching terms; the same expression
    order as the Column expressions in bm25_scores."""
    c1, c2, c3 = textops.bm25_constants(k1, b)
    total = 0
    for tf, df in term_stats:
        idf = math.log((float(n_docs) - df + 0.5) / (float(df) + 0.5) + 1.0)
        frac = (tf * c1) / (float(tf) + c2 + c3 * (dl / avgdl))
        total += _micro(idf * frac)
    return _trunc4(total / 1_000_000.0)


def test_hand_computed_tiny_corpus(spark):
    # corpus: dl = [3, 2, 2, 0, 2] -> N = 5, avgdl = 9.0 / 5
    # tf: d0:a=2, d1:x=1, d4:a=1, d4:x=1 -> df: a=2, x=2
    out = {
        r["doc_id"]: r
        for r in _scores(
            _docs(spark, ["a b a", "x y", "b c", None, "a x"]), ["a", "x"]
        ).collect()
    }
    # no-match and NULL-text docs are absent (score 0 by definition) ...
    assert sorted(out) == [0, 1, 4]
    avgdl = 9.0 / 5  # ... but they DO count toward N and avgdl
    assert (out[0]["n_match_terms"], out[0]["n_tokens"]) == (1, 3)
    assert out[0]["score"] == _expected_score([(2, 2)], 3, 5, avgdl)
    assert (out[1]["n_match_terms"], out[1]["n_tokens"]) == (1, 2)
    assert out[1]["score"] == _expected_score([(1, 2)], 2, 5, avgdl)
    # d4 matches both terms: the per-doc sum spans two micro-unit partials
    assert (out[4]["n_match_terms"], out[4]["n_tokens"]) == (2, 2)
    assert out[4]["score"] == _expected_score([(1, 2), (1, 2)], 2, 5, avgdl)


def test_rare_term_outscores_common_term(spark):
    """idf must rank a rare term above a ubiquitous one at equal tf/dl."""
    texts = ["rare common", "common zz", "common yy", "common ww"]
    out = {
        r["doc_id"]: r["score"]
        for r in _scores(_docs(spark, texts), ["rare", "common"]).collect()
    }
    # d0 carries rare+common, d1-d3 only common; all dl identical
    assert out[0] > out[1] == out[2] == out[3] > 0


def test_duplicate_and_unknown_query_terms(spark):
    """Term list is deduplicated; terms absent from the corpus contribute
    nothing (no NULL poisoning via the df join)."""
    docs = _docs(spark, ["a b", "b c"])
    base = sorted(map(tuple, _scores(docs, ["a"]).collect()))
    noisy = sorted(
        map(tuple, _scores(docs, ["a", "a", "zzz_never_seen"]).collect())
    )
    assert base == noisy


def test_empty_query_raises(spark):
    ts = textops.bm25_term_scores(dedup.token_table(_docs(spark, ["a"])), ["a"])
    with pytest.raises(ValueError):
        textops.bm25_scores(ts, [])


def test_partitioning_invariance(spark, sf0001_dir):
    """Exact integer per-doc sums -> identical doubles at any partitioning."""
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    terms = list(textops.BM25_QUERY_TERMS)
    base = sorted(map(tuple, _scores(docs, terms).collect()))
    repart = sorted(map(tuple, _scores(docs.repartition(13), terms).collect()))
    assert base == repart
    assert len(base) > 0


def test_driver_terms_hit_the_corpus(spark, sf0001_dir):
    """The registry's fixed term set must keep exercising both idf ends:
    every term present, and 'dup' genuinely rare (df < 20% of docs)."""
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    rows = _scores(docs, list(textops.BM25_QUERY_TERMS)).collect()
    n_docs = docs.count()
    matched = {r["doc_id"] for r in rows}
    assert len(matched) > 0.5 * n_docs  # common terms reach most docs
    n_dup = (
        docs.selectExpr(
            "size(filter(split(lower(text), '[^a-z0-9]+'), "
            "x -> x = 'dup')) > 0 AS hit"
        )
        .filter("hit")
        .count()
    )
    assert 0 < n_dup < 0.2 * n_docs


# ---------------------------------------------------------------------------
# Randomized parity against an INDEPENDENT pure-Python BM25 (r9 verdict
# task: the goldens above replicate the operator's arithmetic; this
# reference derives everything -- tokenization, df, avgdl, the Lucene
# formula -- from scratch, the test_ngram_lm numpy-parity precedent).
# ---------------------------------------------------------------------------

import re as _re

from hypothesis import given, settings
from hypothesis import strategies as st

_WORDS = ["a", "b", "cc", "dup", "e0"]

_doc_strat = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6).map(" ".join),
)


def _bm25_reference(texts, terms, k1=1.2, b=0.75):
    """From-scratch BM25 (Lucene non-negative idf), float arithmetic in
    textbook form: returns {doc_id: (n_match_terms, n_tokens, score)}
    for docs matching >= 1 term."""
    toks = {
        i: [w for w in _re.split("[^a-z0-9]+", (t or "").lower()) if w]
        for i, t in enumerate(texts)
    }
    n = len(texts)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for i, tk in toks.items():
        match = 0
        score = 0.0
        for term in sorted(set(terms)):
            tf = tk.count(term)
            if tf == 0:
                continue
            df = sum(1 for v in toks.values() if term in v)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            score += idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * len(tk) / avgdl)
            )
            match += 1
        if match:
            out[i] = (match, len(tk), score)
    return out


@settings(max_examples=12, deadline=None, derandomize=True)
@given(
    texts=st.lists(_doc_strat, min_size=1, max_size=8),
    terms=st.lists(
        st.sampled_from(_WORDS + ["zz_absent"]), min_size=1, max_size=4
    ),
)
def test_bm25_matches_independent_reference(spark, texts, terms):
    """Covers df=0 terms (zz_absent), all-docs-match corpora, NULL and
    empty docs, duplicate query terms -- score agreement bounded by the
    operator's documented micro-unit truncation (1e-6 per matched term
    + the 1e-4 display truncation), everything else exact."""
    expect = _bm25_reference(texts, terms)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in _scores(docs, list(terms)).collect()
    }
    assert set(got) == set(expect)
    for i, (match, dl, score) in expect.items():
        assert got[i]["n_match_terms"] == match, i
        assert got[i]["n_tokens"] == dl, i
        assert abs(got[i]["score"] - score) <= match * 1e-6 + 1e-4, (
            i,
            got[i]["score"],
            score,
        )


def test_bm25_topk_ranks_consistent_with_scores(spark, sf0001_dir):
    """A single-query bm25_topk must rank exactly the top-k of
    bm25_scores run on the same terms (same micro sums, ties by doc_id),
    and multi-query output must equal per-query runs -- the shared-core
    refactor cannot change either side."""
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    terms = list(textops.BM25_QUERY_TERMS)
    single = {
        r["doc_id"]: r
        for r in _topk(docs, queries={"q": tuple(terms)}, k=7).collect()
    }
    scores = _scores(docs, terms).collect()
    expect = sorted(scores, key=lambda r: (-r["score"], r["doc_id"]))[:7]
    assert [r["doc_id"] for r in sorted(single.values(), key=lambda r: r["rank"])] == [
        r["doc_id"] for r in expect
    ]
    for r in expect:
        got = single[r["doc_id"]]
        assert got["score"] == r["score"]
        assert got["n_match_terms"] == r["n_match_terms"]

    multi = _topk(docs, k=5).collect()
    for qname, qterms in textops.BM25_TOPK_QUERIES.items():
        alone = {
            (r["doc_id"], r["rank"], r["score"])
            for r in _topk(docs, queries={qname: qterms}, k=5).collect()
        }
        together = {
            (r["doc_id"], r["rank"], r["score"])
            for r in multi
            if r["query"] == qname
        }
        assert alone == together, qname


def test_bm25_topk_plan_pre_prunes_topk_map_side(spark, sf0001_dir):
    """The retrieval leg's scale claim: the rank<=k filter must plan as
    WindowGroupLimit (map-side per-query top-k BEFORE the shuffle), the
    (query, term) map must broadcast, and no per-document relation may
    sit on a non-broadcast join side (the bm25_scores plan contract)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import (
        explain_str,
    )

    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    plan = explain_str(_topk(docs), "simple")
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_bm25_topk_validates_queries(spark):
    ts = textops.bm25_term_scores(dedup.token_table(_docs(spark, ["a b"])), ["a"])
    with pytest.raises(ValueError):
        textops.bm25_topk(ts, queries={})
    with pytest.raises(ValueError):
        textops.bm25_topk(ts, queries={"q": ()})


def test_shared_term_scores_pass_is_value_identical(spark, sf0001_dir):
    """Scoring and retrieval legs fed one shared term relation over the
    UNION of their terms must equal runs over a relation built for
    each leg's own terms -- df is per-token and (N, avgdl) are
    corpus-level, so extra tokens in the relation cannot leak into
    either result."""
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    union_terms = sorted(
        set(textops.BM25_QUERY_TERMS)
        | {t for ts in textops.BM25_TOPK_QUERIES.values() for t in ts}
    )
    shared = textops.bm25_term_scores(
        dedup.token_table(docs), union_terms
    ).localCheckpoint(eager=True)
    terms = list(textops.BM25_QUERY_TERMS)
    base_scores = sorted(map(tuple, _scores(docs, terms).collect()))
    shared_scores = sorted(
        map(tuple, textops.bm25_scores(shared, terms).collect())
    )
    assert base_scores == shared_scores
    base_topk = sorted(map(tuple, _topk(docs).collect()))
    shared_topk = sorted(map(tuple, textops.bm25_topk(shared).collect()))
    assert base_topk == shared_topk


def test_stale_or_mismatched_term_scores_raise(spark):
    """The term_scores contract guard: a relation built over TOO FEW
    terms, or with no provenance at all, must raise loudly instead of
    silently scoring queries without their missing terms.
    Schema-metadata only -- no job runs for the check, and the
    provenance survives localCheckpoint (the shared-pass
    materialization path)."""
    docs = _docs(spark, ["a b dup", "b c", "a x"])
    small = textops.bm25_term_scores(
        dedup.token_table(docs), ["a"]
    ).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="does not cover"):
        textops.bm25_scores(small, ["a", "b"])
    with pytest.raises(ValueError, match="does not cover"):
        textops.bm25_topk(small, queries={"q": ("a", "b")})
    full = textops.bm25_term_scores(dedup.token_table(docs), ["a", "b"])
    stripped = full.select(
        "doc_id", "dl", "token", F.col("s_micro").cast("long").alias("s_micro")
    )
    with pytest.raises(ValueError, match="provenance"):
        textops.bm25_scores(stripped, ["a"])
    # and the guarded happy path still works
    ok = textops.bm25_scores(full, ["a"])
    assert ok.count() > 0
