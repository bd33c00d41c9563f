"""Closed-form linear quality probe (textops.linear_probe_scores):
weights match an independent numpy least-squares solve, scores follow the
fitted plane, the exact-decimal aggregation is partitioning-invariant,
and a planted signal is actually recovered."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Row

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, textops


def _trunc4(x: float) -> float:
    return math.floor(x * 10_000.0 + 1e-7) / 10_000.0


def _toks(docs):
    """The probe's input: the token table carrying the ``source`` label."""
    return dedup.token_table(docs, keep=("source",))


@pytest.fixture(scope="module")
def docs(spark, sf0001_dir):
    return spark.read.parquet(f"{sf0001_dir}/documents.parquet")


def test_weights_match_numpy_lstsq(spark, docs):
    feats = textops._probe_features(_toks(docs)).collect()
    X = np.array([[1.0, r["x1"], r["x2"]] for r in feats])
    y = np.array([float(r["y"]) for r in feats])
    expected, *_ = np.linalg.lstsq(X, y, rcond=None)
    got = textops.linear_probe_weights(_toks(docs)).collect()[0]
    assert abs(got["w0"] - expected[0]) < 1e-9
    assert abs(got["w1"] - expected[1]) < 1e-9
    assert abs(got["w2"] - expected[2]) < 1e-9


def test_scores_follow_fitted_plane(spark, docs):
    w = textops.linear_probe_weights(_toks(docs)).collect()[0]
    feats = {r["doc_id"]: r for r in textops._probe_features(_toks(docs)).collect()}
    scored = textops.linear_probe_scores(_toks(docs)).collect()
    assert len(scored) == len(feats)
    for r in scored:
        f = feats[r["doc_id"]]
        assert r["yhat"] == _trunc4(
            w["w0"] + w["w1"] * f["x1"] + w["w2"] * f["x2"]
        )
        assert r["y"] == f["y"]


def test_partitioning_invariance(spark, docs):
    """DECIMAL normal-equation sums are exact, so weights and scores must
    be bit-identical under any partitioning."""
    base = sorted(map(tuple, textops.linear_probe_scores(_toks(docs)).collect()))
    repart = sorted(
        map(
            tuple,
            textops.linear_probe_scores(_toks(docs.repartition(13))).collect(),
        )
    )
    assert base == repart


def test_planted_signal_is_recovered(spark):
    """src0 docs long, others short: the probe must rank src0 higher."""
    rows = [
        Row(doc_id=i, source="src0", text="the quick value " * 40)
        for i in range(30)
    ] + [
        Row(doc_id=100 + i, source="src1", text="zz yy xx qq ww ee rr tt uu ii")
        for i in range(30)
    ]
    scored = textops.linear_probe_scores(
        _toks(spark.createDataFrame(rows))
    ).collect()
    pos = [r["yhat"] for r in scored if r["y"] == 1]
    neg = [r["yhat"] for r in scored if r["y"] == 0]
    assert min(pos) > max(neg)
