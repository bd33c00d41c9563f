"""Quality-weighted sampling (sampling.quality_weighted_sample): the
keep-probability law at score 0 / 1 / 0.5, append-stable determinism, and
the expected-rate identity against the real corpus's mean quality."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sampling, textops


def test_probability_law_extremes_and_half(spark):
    rows = (
        [Row(doc_id=i, s=0.0) for i in range(200)]
        + [Row(doc_id=1000 + i, s=1.0) for i in range(200)]
        + [Row(doc_id=2000 + i, s=0.5) for i in range(400)]
    )
    kept = sampling.quality_weighted_sample(
        spark.createDataFrame(rows), score_col="s"
    ).collect()
    by_band = {0: 0, 1: 0, 2: 0}
    for r in kept:
        by_band[r["doc_id"] // 1000] += 1
    assert by_band[0] == 0  # score 0: never kept
    assert by_band[1] == 200  # score 1: always kept (u < 1 a.s.)
    assert abs(by_band[2] - 200) <= 50  # score 0.5: ~half

def test_append_stable_membership(spark):
    base = spark.createDataFrame([Row(doc_id=i, s=0.5) for i in range(300)])
    more = spark.createDataFrame(
        [Row(doc_id=10_000 + i, s=0.5) for i in range(300)]
    )
    kept_base = {
        r["doc_id"]
        for r in sampling.quality_weighted_sample(base, "s").collect()
    }
    kept_union = {
        r["doc_id"]
        for r in sampling.quality_weighted_sample(
            base.unionByName(more), "s"
        ).collect()
    }
    # appending rows never re-rolls existing verdicts
    assert kept_union & set(range(300)) == kept_base


def test_expected_rate_matches_mean_quality(spark, sf0001_dir):
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    scored = textops.quality_scores(docs).select("doc_id", "quality_score")
    mean_q = scored.agg(F.avg("quality_score")).collect()[0][0]
    kept = sampling.quality_weighted_sample(
        scored, score_col="quality_score"
    ).count()
    rate = kept / docs.count()
    assert abs(rate - mean_q) <= 0.1, (rate, mean_q)


def test_null_text_scores_as_empty(spark):
    """NULL text scores exactly like '' (coalesced at tokenization in
    both the Spark DataFrame operator and the DuckDB oracle, so a
    NULL-text document can never diverge the hash gate)."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="")],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in textops.quality_scores(docs).collect()
    }
    null_row, empty_row = rows[1], rows[2]
    assert null_row["quality_score"] is not None
    assert null_row["n_tokens"] == 0
    null_row.pop("doc_id"), empty_row.pop("doc_id")
    assert null_row == empty_row
