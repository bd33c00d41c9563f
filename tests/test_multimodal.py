"""Multimodal plumbing tests: binary payload columns, typed metadata, and
the Arrow-batched mapInPandas decode / resize / frame-sample / embedding
stages (stubbed codecs, real Spark plumbing)."""

from __future__ import annotations

import zlib

import pytest

from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import multimodal
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def media(docs):
    return multimodal.synth_media_from_docs(docs)


def test_media_schema(media):
    # simpleString compares names+types, ignoring nullability flags
    assert media.schema.simpleString() == multimodal.MEDIA_SCHEMA.simpleString()


def test_catalog_is_deterministic_and_typed(media, docs):
    n = docs.count()
    assert media.count() == n
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == set(multimodal.KINDS)
    # payload is the utf-8 text bytes; meta fields follow the doc_id formula
    row = media.filter(F.col("media_id") == 3).first()
    doc = docs.filter(F.col("doc_id") == 3).first()
    assert bytes(row["payload"]) == doc["text"].encode("utf-8")
    assert row["kind"] == multimodal.KINDS[3 % 3]
    assert row["meta"]["width"] == 64 + (3 % 16) * 32


def test_media_features_match_python_recompute(media):
    feats = {r["media_id"]: r for r in multimodal.media_features(media).collect()}
    sample = media.limit(20).collect()
    assert len(feats) == media.count()
    for row in sample:
        b = bytes(row["payload"])
        f = feats[row["media_id"]]
        assert f["n_bytes"] == len(b)
        assert f["crc32"] == (zlib.crc32(b) & 0xFFFFFFFF)
        assert f["first_byte"] == (b[0] if b else -1)
        assert 0.0 <= f["byte_entropy"] <= 8.0


def test_media_features_preserve_partitioning(media):
    reparted = media.repartition(7)
    out = multimodal.media_features(reparted)
    # mapInPandas is a narrow map: partition count must be preserved
    assert out.rdd.getNumPartitions() == 7
    assert out.count() == media.count()


def test_resize_only_images_exact_size(media):
    w, h = 32, 16
    out = multimodal.resize_images(media, w, h).collect()
    n_images = media.filter(F.col("kind") == "image").count()
    assert len(out) == n_images
    for r in out:
        assert (r["width"], r["height"], r["resized"]) == (w, h, True)
        assert len(bytes(r["payload"])) == w * h


def test_frame_sample_slices_cover_payload(media):
    frames = multimodal.sample_frames(media, n_frames=4)
    by_media: dict[int, list] = {}
    for r in frames.collect():
        by_media.setdefault(r["media_id"], []).append(r)
    videos = {
        r["media_id"]: bytes(r["payload"])
        for r in media.filter(F.col("kind") == "video").collect()
    }
    assert set(by_media) == set(videos)
    for mid, rows in by_media.items():
        rows.sort(key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in rows] == [0, 1, 2, 3]
        # slices reassemble the original payload exactly
        assert b"".join(bytes(r["frame_payload"]) for r in rows) == videos[mid]
        assert all(r["n_bytes"] == len(bytes(r["frame_payload"])) for r in rows)


def test_embeddings_stable_and_normalized(media):
    emb1 = {
        r["media_id"]: r["embedding"]
        for r in multimodal.media_embeddings(media.repartition(3), dim=8).collect()
    }
    emb2 = {
        r["media_id"]: r["embedding"]
        for r in multimodal.media_embeddings(media.repartition(11), dim=8).collect()
    }
    assert emb1 == emb2  # partitioning-independent determinism
    v = next(iter(emb1.values()))
    assert len(v) == 8
    assert sum(x * x for x in v) == pytest.approx(1.0, rel=1e-9)


def test_resize_null_payload_propagates_null_dims(spark):
    """NULL-payload image rows follow the stage NULL policy everywhere:
    payload, width, AND height come back NULL with resized=False (r9
    advice finding -- dims used to claim the target size for a resize
    that never happened)."""
    media = multimodal.synth_media_from_docs(
        spark.createDataFrame(
            [(0, None, "en", "src0", None), (3, "hello world", "en", "src0", 11)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    out = {r["media_id"]: r for r in multimodal.resize_images(media, 8, 4).collect()}
    assert set(out) == {0, 3}  # both doc_ids % 3 == 0 -> image kind
    nul, ok = out[0], out[3]
    assert nul["payload"] is None and not nul["resized"]
    assert nul["width"] is None and nul["height"] is None
    assert ok["resized"] and (ok["width"], ok["height"]) == (8, 4)
    assert len(bytes(ok["payload"])) == 32
