"""Bigram-LM corpus scoring (textops.ngram_lm_scores): hand-computed
tiny-corpus golden, partitioning invariance (the BIGINT micro-unit sum
must make results independent of partitioning), and sign/edge laws."""

from __future__ import annotations

import math

from pyspark.sql import Row

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, textops


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def _micro(x: float) -> int:
    return math.floor(x * 1_000_000.0 + 1e-9)


def _trunc4(x: float) -> float:
    return math.floor(x * 10_000.0 + 1e-7) / 10_000.0


def test_hand_computed_tiny_corpus(spark):
    # corpus: c1 = {a: 3, b: 3, x: 1}, V = 3
    # bigrams: d0 -> (a,b),(b,a),(a,b); d1 -> (a,b); c2 = {(a,b): 3, (b,a): 1}
    out = {
        r["doc_id"]: r
        for r in textops.ngram_lm_scores(
            dedup.token_table(_docs(spark, ["a b a b", "a b", "x"]))
        ).collect()
    }
    lp_ab = math.log((3 + 1) / float(3 + 3))
    lp_ba = math.log((1 + 1) / float(3 + 3))
    exp_d0 = _trunc4(
        (2 * _micro(lp_ab) + _micro(lp_ba)) / 1_000_000.0 / 3.0
    )
    exp_d1 = _trunc4(_micro(lp_ab) / 1_000_000.0 / 1.0)
    assert (out[0]["n_tokens"], out[0]["n_transitions"]) == (4, 3)
    assert out[0]["avg_logprob"] == exp_d0
    assert (out[1]["n_tokens"], out[1]["n_transitions"]) == (2, 1)
    assert out[1]["avg_logprob"] == exp_d1
    # single-token doc: no transitions, NULL score
    assert (out[2]["n_tokens"], out[2]["n_transitions"]) == (1, 0)
    assert out[2]["avg_logprob"] is None


def test_null_and_empty_text(spark):
    rows = {
        r["doc_id"]: r
        for r in textops.ngram_lm_scores(
            dedup.token_table(
                spark.createDataFrame(
                    [Row(doc_id=0, text=None), Row(doc_id=1, text="!!!")]
                )
            )
        ).collect()
    }
    for i in (0, 1):
        assert rows[i]["n_tokens"] == 0
        assert rows[i]["n_transitions"] == 0
        assert rows[i]["avg_logprob"] is None


def test_partitioning_invariance(spark, sf0001_dir):
    """The per-doc sum is exact integer arithmetic, so any partitioning
    must give IDENTICAL doubles -- the property the oracle hash needs."""
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    base = sorted(
        map(tuple, textops.ngram_lm_scores(dedup.token_table(docs)).collect())
    )
    repart = sorted(
        map(
            tuple,
            textops.ngram_lm_scores(
                dedup.token_table(docs.repartition(13))
            ).collect(),
        )
    )
    assert base == repart


def test_scores_are_negative_log_probs(spark, sf0001_dir):
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    rows = textops.ngram_lm_scores(dedup.token_table(docs)).collect()
    assert rows and all(
        r["avg_logprob"] is not None and r["avg_logprob"] <= 0
        for r in rows
        if r["n_transitions"] > 0
    )
    # every document appears exactly once
    assert len({r["doc_id"] for r in rows}) == len(rows) == docs.count()
