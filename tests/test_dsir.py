"""DSIR importance resampling (sampling.dsir_select): planted-corpus
golden, partitioning invariance, the micro-unit determinism contract
replayed in DuckDB, and the scale plan shape."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sampling
from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import explain_str
from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_SCHEMAS
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"

#: the ONE DuckDB replay of the whole selection lives next to the s7
#: oracle leg that embeds it -- imported here so the operator-level
#: row-for-row gate and the driver's entry-level gate can never drift
from nyc_taxi_dataset_analysis_apache_hive_spark.registry.sampling_pipeline import (  # noqa: E501
    _S7_DSIR_DUCK_SQL as DSIR_DUCK_SQL,
)


def test_dsir_selects_target_like_docs(spark):
    """Planted golden: raw docs phrased like the target corpus outrank
    gibberish, so with n_keep=2 exactly the two target-like raw docs
    survive (Gumbel noise is bounded; the planted score gap dominates)."""
    rows = [
        (1, "spark sql query engine spark sql join", "src0"),
        (2, "spark sql window aggregate spark sql", "src0"),
        (10, "spark sql query join window spark sql engine " * 4, "raw"),
        (11, "sql engine spark query window join sql spark " * 4, "raw"),
        (12, "zebra quagga okapi wombat numbat pangolin " * 4, "raw"),
        (13, "violet umber ochre cerulean crimson teal " * 4, "raw"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).withColumn("is_target", F.col("source") == "src0")
    # light smoothing + a small bucket space: the default B=1024 add-one
    # smoothing is sized for corpus-scale counts and would swamp a
    # 6-document fixture's signal
    got = {
        r["doc_id"]
        for r in sampling.dsir_select(
            df, "is_target", n_keep=2, n_buckets=64, smoothing=0.01
        ).collect()
    }
    assert got == {10, 11}


def test_dsir_partitioning_invariance(spark):
    docs = load_table(spark, SF, "documents").withColumn(
        "is_target", F.col("source") == "src0"
    )
    a = sampling.dsir_select(docs, "is_target").collect()
    b = sampling.dsir_select(docs.repartition(7), "is_target").collect()
    key = lambda rs: [(r["doc_id"], r["dsir_score_micro"], r["dsir_key"]) for r in rs]
    assert key(a) == key(b)
    assert len(a) == 200


def test_dsir_duckdb_replay(spark, sf0001_dir):
    """The determinism contract end-to-end: DuckDB replays the selected
    ids, scores, AND keys row-for-row (micro-unit quantization makes the
    doc score an order-independent integer sum on both engines)."""
    docs = load_table(spark, sf0001_dir, "documents").withColumn(
        "is_target", F.col("source") == "src0"
    )
    got = [
        (r["doc_id"], r["dsir_score_micro"], r["dsir_key"])
        for r in sampling.dsir_select(docs, "is_target").collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf0001_dir}/documents.parquet')"
    )
    want = [tuple(t) for t in con.execute(DSIR_DUCK_SQL).fetchall()]
    con.close()
    assert got == want


def test_dsir_plan_shape(spark):
    """100-TB audit: the ratio table broadcasts, the only cross join is
    the 1x1 scalar-totals combine, and top-k is TakeOrderedAndProject
    (per-partition heaps), never a global Sort+Limit."""
    docs = load_table(spark, SF, "documents").withColumn(
        "is_target", F.col("source") == "src0"
    )
    plan = explain_str(sampling.dsir_select(docs, "is_target"))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_dsir_fit_apply_split_equals_one_shot(spark):
    """The deployment split: dsir_fit's persisted (bucket, lr_micro)
    model fed back through dsir_select(model=...) selects exactly the
    one-shot inline result -- ids, scores, and keys."""
    docs = load_table(spark, SF, "documents").withColumn(
        "is_target", F.col("source") == "src0"
    )
    model = sampling.dsir_fit(docs, "is_target")
    assert model.count() <= 1024
    key = lambda rs: [(r["doc_id"], r["dsir_score_micro"], r["dsir_key"]) for r in rs]
    one_shot = sampling.dsir_select(docs, "is_target").collect()
    split = sampling.dsir_select(docs, "is_target", model=model).collect()
    assert key(one_shot) == key(split)


def test_dsir_admission_stream_matches_batch_and_operator(
    spark, tmp_path_factory
):
    """Streaming admission == batch analog == the batch operator's
    scores, document for document, over a multi-micro-batch file drop
    zone (the decontam_stream test harness shape)."""
    import os

    import pandas as pd

    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation

    docs = load_table(spark, SF, "documents").withColumn(
        "is_target", F.col("source") == "src0"
    )
    model = sampling.dsir_fit(docs, "is_target")
    cands = docs.filter(~F.coalesce(F.col("is_target"), F.lit(False)))

    # drop zone: candidates as 4 time-ordered slices + far-future sentinel
    pdf = cands.select("doc_id", "text").toPandas().sort_values(
        "doc_id"
    ).reset_index(drop=True)
    base = pd.Timestamp("2024-01-01 00:00:00")
    out = str(tmp_path_factory.mktemp("dsir_stream") / "docs")
    os.makedirs(out)
    n = len(pdf)
    for s in range(4):
        chunk = pdf.iloc[n * s // 4 : n * (s + 1) // 4].copy()
        chunk["ts"] = pd.Series(
            [base + pd.Timedelta(hours=s)] * len(chunk),
            dtype="datetime64[us]",
        ).values
        chunk.to_parquet(os.path.join(out, f"{s:02d}.parquet"), index=False)
    sent = pdf.iloc[[0]].copy()
    sent["doc_id"] = 10**9
    sent["text"] = ""
    sent["ts"] = pd.Series(
        [base + pd.Timedelta(days=2)], dtype="datetime64[us]"
    ).values
    sent.to_parquet(os.path.join(out, "zz_sentinel.parquet"), index=False)

    q = (
        curation.dsir_admission_stream(
            curation.read_docs_stream(
                spark,
                out,
                curation.drop_zone_schema(TESTDATA_SCHEMAS["documents"]),
            ),
            model,
        )
        .writeStream.format("memory")
        .queryName("dsir_admission_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]: (r["dsir_score_micro"], r["admitted"])
        for r in spark.table("dsir_admission_sink").collect()
        if r["doc_id"] != 10**9
    }
    batch = {
        r["doc_id"]: (r["dsir_score_micro"], r["admitted"])
        for r in curation.dsir_admission_batch(cands, model).collect()
    }
    assert streamed == batch and len(batch) == cands.count()
    # the batch operator's selected subset carries the SAME integer scores
    op_scores = {
        r["doc_id"]: r["dsir_score_micro"]
        for r in sampling.dsir_select(docs, "is_target").collect()
    }
    assert op_scores and all(
        batch[i][0] == sc for i, sc in op_scores.items()
    )
