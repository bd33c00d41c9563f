"""Direct n-gram-collision decontamination
(dedup.ngram_overlap_contamination): hand-built contamination goldens --
full copy, piecewise leak spread over two corpus docs (the case pairwise
Jaccard misses), novel text, and short-doc edge -- plus the no-cartesian
plan shape."""

from __future__ import annotations

from pyspark.sql import Row

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

WORDS = [f"w{i}" for i in range(40)]


def _df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_hand_built_contamination(spark):
    corpus = _df(
        spark,
        [
            (0, " ".join(WORDS[:20])),  # w0..w19
            (2, " ".join(WORDS[20:40])),  # w20..w39
        ],
    )
    probes = _df(
        spark,
        [
            (1, " ".join(WORDS[:20])),  # exact copy of doc 0
            # piecewise: first 10 tokens from doc 0, last 10 from doc 2 --
            # its 8-grams hit only where fully inside one source span
            (3, " ".join(WORDS[:10] + WORDS[30:40])),
            (5, "novel alpha beta gamma delta eps zeta eta theta iota"),
            (7, " ".join(WORDS[:7])),  # < 8 tokens: no grams
        ],
    )
    out = {
        r["probe_id"]: r
        for r in dedup.ngram_overlap_contamination(
            dedup.token_table(corpus),
            dedup.token_table(probes),
            ngram_n=8,
            threshold=0.2,
        ).collect()
    }
    assert set(out) == {1, 3, 5, 7}
    # full copy: 13 distinct 8-grams, all hit
    assert (out[1]["n_grams"], out[1]["n_hits"]) == (13, 13)
    assert out[1]["overlap_frac"] == 1.0 and out[1]["contaminated"]
    # piecewise: grams w0..w9 contribute 3 (w0..w7, w1..w8, w2..w9);
    # grams w30..w39 contribute 3; straddling grams miss
    assert (out[3]["n_grams"], out[3]["n_hits"]) == (13, 6)
    assert out[3]["contaminated"]  # 6/13 > 0.2
    # novel: zero hits, not contaminated
    assert (out[5]["n_grams"], out[5]["n_hits"]) == (3, 0)
    assert out[5]["overlap_frac"] == 0.0 and not out[5]["contaminated"]
    # short: no grams -> NULL fraction, explicitly not contaminated
    assert (out[7]["n_grams"], out[7]["n_hits"]) == (0, 0)
    assert out[7]["overlap_frac"] is None and not out[7]["contaminated"]


def test_threshold_boundary(spark):
    corpus = _df(spark, [(0, " ".join(WORDS[:8]))])  # exactly one 8-gram
    probes = _df(spark, [(1, " ".join(WORDS[:9]))])  # two 8-grams, one hits
    corpus, probes = dedup.token_table(corpus), dedup.token_table(probes)
    strict = dedup.ngram_overlap_contamination(
        corpus, probes, ngram_n=8, threshold=0.5
    ).collect()[0]
    assert strict["overlap_frac"] == 0.5 and strict["contaminated"]
    stricter = dedup.ngram_overlap_contamination(
        corpus, probes, ngram_n=8, threshold=0.6
    ).collect()[0]
    assert not stricter["contaminated"]


def test_plan_has_no_cartesian_and_aggregates_corpus_first(spark, sf0001_dir):
    toks = dedup.token_table(
        spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    )
    plan = (
        dedup.ngram_overlap_contamination(
            toks.filter("doc_id % 2 = 0"), toks.filter("doc_id % 2 = 1")
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
