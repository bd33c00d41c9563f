"""Streaming semantic admission (streaming/curation.py): the stream
report, its batch analog, and the k3-gated batch operator
(similarity.semantic_admit_batch) must agree vector for vector over a
multi-micro-batch file stream, and the stateless literal-array cell
assignment must equal assign_to_centroids."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import similarity
from nyc_taxi_dataset_analysis_apache_hive_spark.schema import TESTDATA_SCHEMAS
from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import curation

SENTINEL_ID = 10**9
THRESH = 0.35


def _load_embeddings(spark):
    """sf0.001 embeddings, env-resolved with a skip (r15, ADVICE): the
    same machine-layout class test_semantic_admit fixed -- fail only on
    real breakage, skip on an absent testdata layout."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF0001_DIR", "/root/testdata/sf0.001")
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no sf0.001 testdata at {path}")
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def emb_split(spark):
    emb = _load_embeddings(spark)
    history = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    cents = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 116)
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_emb"),
    )
    return history, batch, cents


@pytest.fixture(scope="module")
def vecs_dir(spark, emb_split, tmp_path_factory):
    """Odd vectors as 4 time-ordered parquet files + a far-future
    sentinel (closes every real window before the availableNow drain
    ends -- the test_streaming_decontam convention)."""
    _, batch, _ = emb_split
    pdf = batch.toPandas().sort_values("vec_id").reset_index(drop=True)
    base = pd.Timestamp("2024-01-01 00:00:00")
    n = len(pdf)
    out = str(tmp_path_factory.mktemp("emb_stream") / "vecs")
    os.makedirs(out)
    for s in range(4):
        chunk = pdf.iloc[n * s // 4 : n * (s + 1) // 4].copy()
        chunk["ts"] = pd.Series(
            [base + pd.Timedelta(hours=s)] * len(chunk), dtype="datetime64[us]"
        ).values
        chunk.to_parquet(os.path.join(out, f"{s:02d}.parquet"), index=False)
    sent = pdf.iloc[[0]].copy()
    sent["vec_id"] = SENTINEL_ID
    # keep the column list<float>-typed (an all-None column would write
    # as INT32 and break the stream's schema); an EMPTY vector is
    # zero-norm, so the sentinel admits with NULL cell and is filtered
    import numpy as np

    sent["embedding"] = [np.array([], dtype=np.float32)]
    sent["ts"] = pd.Series(
        [base + pd.Timedelta(days=2)], dtype="datetime64[us]"
    ).values
    sent.to_parquet(os.path.join(out, "zz_sentinel.parquet"), index=False)
    return out


def _verdict_map(rows):
    return {
        r["vec_id"]: (
            r["cent_id"],
            r["match_id"],
            r["cosine"],
            r["admitted"],
        )
        for r in rows
        if r["vec_id"] != SENTINEL_ID
    }


def _three_way_verdicts(spark, history, batch, cents, vecs_dir, sink_name):
    """The stream / batch-analog / k3-operator equality harness over one
    centroid index: returns the three verdict maps."""
    state = similarity.assign_to_centroids(history, cents).localCheckpoint(
        eager=True
    )
    stream = curation.semantic_admission_stream(
        curation.read_docs_stream(
            spark,
            vecs_dir,
            curation.drop_zone_schema(TESTDATA_SCHEMAS["embeddings"]),
        ),
        state,
        cents,
        threshold=THRESH,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _verdict_map(spark.table(sink_name).collect())
    analog = _verdict_map(
        curation.semantic_admission_batch(
            batch, state, cents, threshold=THRESH
        ).collect()
    )
    operator = _verdict_map(
        similarity.semantic_admit_batch(
            batch,
            state,
            similarity.assign_to_centroids(batch, cents),
            threshold=THRESH,
        ).report.collect()
    )
    return got, analog, operator


def test_stream_matches_batch_and_operator(spark, emb_split, vecs_dir):
    history, batch, cents = emb_split
    got, analog, operator = _three_way_verdicts(
        spark, history, batch, cents, vecs_dir, "admit_sink"
    )
    assert got and got == analog == operator


def test_stream_matches_batch_with_trained_index(spark, emb_split, vecs_dir):
    """The r14 gate: a kmeans_train-produced index round-trips through
    the stream-vs-batch equality harness (previously only the fixed
    corpus slice did).  The trained table folds through
    _centroid_literal into the stateless stream assignment exactly like
    the fixed slice -- the deployment posture is train offline, serve
    the literal index in the stream."""
    history, batch, _ = emb_split
    emb = _load_embeddings(spark)
    trained = similarity.kmeans_train(
        emb.filter(F.col("vec_id") < 500),
        n_centroids=16,
        n_iter=5,
        quantize=6,
    )
    got, analog, operator = _three_way_verdicts(
        spark, history, batch, trained, vecs_dir, "admit_sink_trained"
    )
    assert got and got == analog == operator


def test_stateless_assignment_equals_batch_assignment(spark, emb_split):
    """The literal-array fold must reproduce assign_to_centroids' cell
    for every unit vector, and yield NULL cell for zero-norm/NULL."""
    history, batch, cents = emb_split
    cent_arr = curation._centroid_literal(cents)
    got = {
        r["vec_id"]: r["cent_id"]
        for r in curation._assigned_rows(
            batch, cent_arr, "embedding", ts_col=None
        ).collect()
    }
    expect = {
        r["vec_id"]: r["cent_id"]
        for r in similarity.assign_to_centroids(batch, cents).collect()
    }
    # unit vectors: identical cells; non-unit vectors only on the stream
    # side, with NULL cells
    for vid, cell in expect.items():
        assert got[vid] == cell, vid
    for vid in set(got) - set(expect):
        assert got[vid] is None, vid


def test_degenerate_vectors_stay_in_report(spark, emb_split):
    """Zero-norm and NULL vectors admit with NULL cell/match; a vector
    in an empty cell admits with its cell and no match."""
    _, _, cents = emb_split
    state = spark.createDataFrame(
        [Row(vec_id=0, cent_id=-1, emb_n=[1.0, 0.0])]
    )
    small = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.0] * 64),
            Row(vec_id=2, embedding=None),
        ]
    )
    rows = {
        r["vec_id"]: r
        for r in curation.semantic_admission_batch(
            small, state, cents, threshold=THRESH
        ).collect()
    }
    assert set(rows) == {1, 2}
    for i in (1, 2):
        assert rows[i]["admitted"] is True
        assert rows[i]["cent_id"] is None
        assert rows[i]["match_id"] is None and rows[i]["cosine"] is None


def test_centroid_literal_rejects_all_null_index(spark):
    with pytest.raises(ValueError, match="centroid"):
        curation._centroid_literal(
            spark.createDataFrame(
                [(1, None)], "cent_id long, cent_emb array<double>"
            )
        )


def test_null_element_centroid_is_skipped_not_crashed(spark):
    """A centroid with a NULL ELEMENT is directionless (its cosine is
    NULL in the batch operator): the literal builder must skip it, and
    verdicts must match the batch operator's on the same inputs."""
    cents = spark.createDataFrame(
        [(100, [1.0, None]), (101, [0.0, 1.0])],
        "cent_id long, cent_emb array<double>",
    )
    state = spark.createDataFrame(
        [Row(vec_id=0, cent_id=101, emb_n=[0.0, 1.0])]
    )
    batch = spark.createDataFrame([Row(vec_id=1, embedding=[0.0, 2.0])])
    got = curation.semantic_admission_batch(
        batch, state, cents, threshold=0.99
    ).collect()[0]
    op = similarity.semantic_admit_batch(
        batch, state, similarity.assign_to_centroids(batch, cents), 0.99
    ).report.collect()[0]
    assert (got["cent_id"], got["match_id"], got["admitted"]) == (
        op["cent_id"],
        op["match_id"],
        op["admitted"],
    ) == (101, 0, False)


def test_duplicate_arrivals_collapse_to_one_verdict(spark, emb_split):
    """The documented contract difference: duplicate vec_ids collapse to
    ONE verdict row in the stream analog (the best-match GROUP BY),
    while the batch operator mirrors the batch multiset."""
    _, _, cents = emb_split
    state = spark.createDataFrame(
        [Row(vec_id=0, cent_id=-1, emb_n=[1.0, 0.0])]
    )
    dup = spark.createDataFrame(
        [Row(vec_id=7, embedding=[1.0, 1.0]), Row(vec_id=7, embedding=[1.0, 1.0])]
    )
    analog = curation.semantic_admission_batch(dup, state, cents).collect()
    assert len(analog) == 1
    op = similarity.semantic_admit_batch(
        dup, state, similarity.assign_to_centroids(dup, cents)
    ).report.collect()
    assert len(op) == 2


def test_centroid_literal_rejects_oversized_index(spark):
    """The literal-array assignment is O(n_centroids) in both plan size
    and per-row cost; past STREAM_MAX_CENTROIDS the operator must refuse
    loudly instead of building a pathological plan (r13)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming.curation import (
        STREAM_MAX_CENTROIDS,
        _centroid_literal,
    )

    big = spark.createDataFrame(
        [
            Row(cent_id=i, cent_emb=[float(i), 1.0])
            for i in range(STREAM_MAX_CENTROIDS + 1)
        ]
    )
    with pytest.raises(ValueError, match="design regime"):
        _centroid_literal(big)
    # exactly at the ceiling still builds
    _centroid_literal(big.filter(f"cent_id < {STREAM_MAX_CENTROIDS}"))
