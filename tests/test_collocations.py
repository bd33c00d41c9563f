"""Collocation mining (textops.bigram_table / collocation_scores).

Cross-engine value parity for the tv2 entry rides the oracle gates;
these pin the operator contract: bigrams never cross document
boundaries, counts are occurrence-level (not document-level), and PMI
actually ranks an exclusive pair above a promiscuous one.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, textops


@pytest.fixture(scope="module")
def docs(spark):
    # "neural network" always co-occur (exclusive pair);
    # "the cat" / "the dog": "the" is promiscuous -> lower PMI.
    rows = [
        (0, "neural network models"),
        (1, "a neural network"),
        (2, "the cat sat"),
        (3, "the dog ran"),
        (4, "the cat and the dog"),
        (5, "one"),  # single token: no bigrams
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bigrams_stay_inside_documents(docs):
    bg = textops.bigram_table(dedup.token_table(docs))
    got = {(r["w1"], r["w2"]) for r in bg.collect()}
    # last token of doc 2 ("sat") never pairs with first of doc 3 ("the")
    assert ("sat", "the") not in got
    assert ("neural", "network") in got
    assert ("models", "a") not in got


def test_bigram_counts_are_occurrence_level(docs):
    bg = textops.bigram_table(dedup.token_table(docs))
    c = (
        bg.groupBy("w1", "w2").count()
        .filter((F.col("w1") == "neural") & (F.col("w2") == "network"))
        .first()["count"]
    )
    assert c == 2


def test_pmi_value_and_ordering(docs):
    scored = {(r["w1"], r["w2"]): r for r in
              textops.collocation_scores(dedup.token_table(docs)).collect()}
    nn = scored[("neural", "network")]
    cat = scored[("the", "cat")]
    # hand-computed: P(ab)=c_ab/nb, P(a)=c_a/nu
    nu, nb = 18, 12  # 18 tokens total, 12 bigram slots
    pmi = math.log((2 / nb) / ((2 / nu) * (2 / nu)))
    assert nn["pmi"] == pytest.approx(round(pmi, 6), abs=1e-6)
    # the exclusive pair beats the promiscuous-left pair
    assert nn["pmi"] > cat["pmi"]
    # npmi is pmi / -ln P(ab).  NOTE: with unigram probs over corpus
    # tokens and bigram probs over bigram slots (different denominators)
    # the textbook [-1, 1] bound can be exceeded on tiny corpora where
    # P(ab) > P(a); the estimator is still monotone in association,
    # which is what the ranking leg uses.
    assert nn["npmi"] == pytest.approx(
        round(pmi / -math.log(2 / nb), 6), abs=1e-6
    )
    assert nn["npmi"] > cat["npmi"]


def test_window_pairs_reduce_to_bigrams_at_window_1(docs):
    bg = sorted(map(tuple, textops.bigram_table(dedup.token_table(docs)).collect()))
    win1 = sorted(map(tuple, textops.window_pair_table(dedup.token_table(docs), 1).collect()))
    assert bg == win1


def test_window_pairs_respect_window_and_doc_boundary(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "e f")], "doc_id long, text string"
    )
    got = sorted(
        map(tuple, textops.window_pair_table(dedup.token_table(docs), 2).collect())
    )
    # window=2: (a,b),(a,c),(b,c),(b,d),(c,d) + (e,f); never (d,e)
    assert got == sorted(
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"),
         ("e", "f")]
    )


def test_window_pair_table_rejects_window_zero(docs):
    with pytest.raises(ValueError):
        textops.window_pair_table(dedup.token_table(docs), 0)


def test_windowed_pmi_uses_window_slot_total(spark):
    # 1 doc "a b c", window 2 -> pairs (a,b),(a,c),(b,c): nb=3, nu=3
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    got = {
        (r["w1"], r["w2"]): r["pmi"]
        for r in textops.windowed_collocation_scores(dedup.token_table(docs), 2).collect()
    }
    want = round(math.log((1 / 3) / ((1 / 3) * (1 / 3))), 6)
    assert got == {("a", "b"): want, ("a", "c"): want, ("b", "c"): want}


def test_single_token_docs_contribute_unigrams_only(docs):
    # "one" appears in unigram totals but yields no bigram rows
    bg = textops.bigram_table(dedup.token_table(docs))
    assert bg.filter((F.col("w1") == "one") | (F.col("w2") == "one")).count() == 0


def test_tv1_colloc_leg_shapes(spark, sf0001_dir):
    from nyc_taxi_dataset_analysis_apache_hive_spark import registry
    from nyc_taxi_dataset_analysis_apache_hive_spark.registry.sampling_pipeline import (
        _TV2_TOP_K,
    )

    df = registry.QUERIES["tv1_text_stats"](spark, sf0001_dir).filter(
        F.col("op").startswith("colloc")
    )
    by_op = {r["op"]: r["count"] for r in df.groupBy("op").count().collect()}
    assert by_op == {"colloc": _TV2_TOP_K, "colloc_pmi": _TV2_TOP_K,
                     "colloc_npmi": _TV2_TOP_K, "colloc_win": _TV2_TOP_K}
    # pmi/npmi legs respect the min-count floor
    low = df.filter(
        F.col("op").isin("colloc_pmi", "colloc_npmi", "colloc_win")
        & (F.col("n") < textops.COLLOCATION_MIN_COUNT)
    )
    assert low.count() == 0
    # ranks (riding tv1's m column) are 1..k with no gaps per leg
    for op in ("colloc", "colloc_pmi", "colloc_npmi", "colloc_win"):
        ranks = sorted(
            r["m"] for r in df.filter(F.col("op") == op).collect()
        )
        assert ranks == list(range(1, _TV2_TOP_K + 1))


# ---------------------------------------------------------------------------
# Hypothesis-randomized parity (the pack-layouts discipline): arbitrary
# tiny corpora against a plain-Python PMI recompute.  derandomize=True
# keeps CI deterministic.
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORDS = ["aa", "bb", "cc", "dd", "ee"]  # tiny alphabet -> real collisions


def _python_collocations(texts):
    """Reference PMI/NPMI over whitespace corpora (already lowercase
    alnum, so the shared tokenizer is a plain split)."""
    from collections import Counter

    uni, bg = Counter(), Counter()
    for t in texts:
        toks = t.split()
        uni.update(toks)
        bg.update(zip(toks, toks[1:]))
    nu, nb = sum(uni.values()), sum(bg.values())
    out = {}
    for (w1, w2), c_ab in bg.items():
        pab = c_ab / nb
        pmi = math.log(pab / ((uni[w1] / nu) * (uni[w2] / nu)))
        # one bigram type (P(ab) = 1): NPMI's -ln P(ab) is 0, and the
        # operator's double division by zero yields NULL
        npmi = None if pab == 1 else round(pmi / -math.log(pab), 6)
        out[(w1, w2)] = (c_ab, round(pmi, 6), npmi)
    return out


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=12,
    )
)
def test_hypothesis_collocations_match_python(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["w1"], r["w2"]): (r["c_ab"], r["pmi"], r["npmi"])
        for r in textops.collocation_scores(dedup.token_table(docs)).collect()
    }
    want = _python_collocations(texts)
    assert set(got) == set(want)
    for k, (c_ab, pmi, npmi) in want.items():
        gc, gp, gn = got[k]
        assert gc == c_ab
        assert gp == pytest.approx(pmi, abs=2e-6)
        assert gn == (None if npmi is None else pytest.approx(npmi, abs=2e-6))


def _python_windowed(texts, window):
    """Reference windowed PMI over whitespace corpora."""
    from collections import Counter

    uni, pairs = Counter(), Counter()
    for t in texts:
        toks = t.split()
        uni.update(toks)
        for i, w in enumerate(toks):
            for j in range(i + 1, min(i + window, len(toks) - 1) + 1):
                pairs[(w, toks[j])] += 1
    nu, nb = sum(uni.values()), sum(pairs.values())
    out = {}
    for (w1, w2), c_ab in pairs.items():
        pmi = math.log(
            (c_ab / nb) / ((uni[w1] / nu) * (uni[w2] / nu))
        )
        out[(w1, w2)] = (c_ab, round(pmi, 6))
    return out


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=10,
    ),
    window=st.integers(min_value=1, max_value=4),
)
def test_hypothesis_windowed_match_python(spark, texts, window):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["w1"], r["w2"]): (r["c_ab"], r["pmi"])
        for r in textops.windowed_collocation_scores(
            dedup.token_table(docs), window
        ).collect()
    }
    want = _python_windowed(texts, window)
    assert set(got) == set(want)
    for k, (c_ab, pmi) in want.items():
        assert got[k][0] == c_ab
        assert got[k][1] == pytest.approx(pmi, abs=2e-6)
