"""Sliding-window document chunking (textops.chunk_documents): hand
goldens for overlap/truncation, the coverage law (every token lands in a
chunk iff stride <= chunk), exact-partition reconstruction, and edge
cases."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, textops

TEXT10 = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"


def _chunks(spark, text, chunk_tokens, stride):
    return sorted(
        textops.chunk_documents(
            dedup.token_table(spark.createDataFrame([Row(doc_id=0, text=text)])),
            chunk_tokens=chunk_tokens,
            stride=stride,
        ).collect(),
        key=lambda r: r["chunk_idx"],
    )


def test_overlapping_windows_hand_golden(spark):
    got = _chunks(spark, TEXT10, chunk_tokens=4, stride=3)
    # starts 1,4,7,10 -> windows of 4,4,4,1 tokens
    assert [(r["chunk_idx"], r["start_token"], r["n_tokens"]) for r in got] == [
        (0, 1, 4),
        (1, 4, 4),
        (2, 7, 4),
        (3, 10, 1),
    ]
    assert got[0]["chunk_text"] == "t0 t1 t2 t3"
    assert got[1]["chunk_text"] == "t3 t4 t5 t6"  # 1-token overlap
    assert got[3]["chunk_text"] == "t9"


def test_exact_partition_reconstructs_document(spark):
    """stride == chunk_tokens partitions: concatenating chunk texts in
    chunk_idx order rebuilds the tokenized document exactly."""
    got = _chunks(spark, TEXT10, chunk_tokens=3, stride=3)
    assert " ".join(r["chunk_text"] for r in got) == TEXT10
    assert [r["n_tokens"] for r in got] == [3, 3, 3, 1]


def test_every_token_covered_when_stride_le_chunk(spark, sf0001_dir):
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    chunks = textops.chunk_documents(
        dedup.token_table(docs), chunk_tokens=32, stride=24
    )
    per_doc = {}
    for r in chunks.collect():
        lo, hi = r["start_token"], r["start_token"] + r["n_tokens"] - 1
        cur = per_doc.setdefault(r["doc_id"], [])
        cur.append((lo, hi))
    toks = {
        r["doc_id"]: r["n"]
        for r in textops.token_counts(docs)
        .selectExpr("doc_id", "n_tokens_ws AS n")
        .collect()
    }
    assert per_doc
    for doc_id, spans in per_doc.items():
        spans.sort()
        assert spans[0][0] == 1
        covered = spans[0][1]
        for lo, hi in spans[1:]:
            assert lo <= covered + 1  # no gap
            covered = max(covered, hi)
        assert covered == toks[doc_id]


def test_edges_and_validation(spark):
    rows = textops.chunk_documents(
        dedup.token_table(
            spark.createDataFrame(
                [Row(doc_id=0, text=""), Row(doc_id=1, text=None),
                 Row(doc_id=2, text="one")]
            )
        ),
        chunk_tokens=8,
        stride=8,
    ).collect()
    assert {r["doc_id"] for r in rows} == {2}
    assert rows[0]["n_tokens"] == 1 and rows[0]["chunk_text"] == "one"
    with pytest.raises(ValueError):
        textops.chunk_documents(
            dedup.token_table(spark.createDataFrame([Row(doc_id=0, text="x")])),
            stride=0,
        )
