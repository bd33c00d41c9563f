"""Persistence round-trips for the maintained search/dedup artifacts
(r16): IVFIndex, PQEncoding, and the bloom positions/words rows each
save -> load -> probe EQUAL to the freshly-built artifact -- the
maintained-state == rebuild discipline the CMS/HLL ledgers already
follow (streaming/maintenance.read_cms_state), extended to the three
artifacts a deployment restart would otherwise have to
retrain/re-encode/re-hash."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, similarity
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_ivf_index_roundtrip(spark, tmp_path):
    """save_ivf_index -> load_ivf_index: the reloaded index serves both
    consumers (search and routed mining) with results identical to the
    fresh build -- a restart never re-pays the full-corpus assignment."""
    emb = load_table(spark, SF, "embeddings")
    fresh = similarity.ivf_assign(emb, similarity.default_centroids(emb))
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(fresh, path)
    loaded = similarity.load_ivf_index(spark, path)
    assert _rows(loaded.cents) == _rows(fresh.cents)
    assert _rows(loaded.assigned) == _rows(fresh.assigned)
    assert _rows(
        similarity.cosine_topk_ivf(emb, loaded, k=5, n_queries=8)
    ) == _rows(similarity.cosine_topk_ivf(emb, fresh, k=5, n_queries=8))
    assert _rows(
        similarity.contrastive_mining(
            emb, k=5, n_queries=8, index=loaded, tag_suffix="_ivf"
        )
    ) == _rows(
        similarity.contrastive_mining(
            emb, k=5, n_queries=8, index=fresh, tag_suffix="_ivf"
        )
    )


def test_pq_encoding_roundtrip(spark, tmp_path):
    """save_pq_encoding -> load_pq_encoding: geometry rides the meta
    row and both PQ searches (direct + IVF-routed) return results
    identical to the fresh encode -- a restart never re-encodes the
    corpus."""
    emb = load_table(spark, SF, "embeddings")
    fresh = similarity.pq_encode(emb)
    path = str(tmp_path / "pq")
    similarity.save_pq_encoding(fresh, path)
    loaded = similarity.load_pq_encoding(spark, path)
    assert (loaded.m, loaded.k_sub, loaded.dim) == (
        fresh.m,
        fresh.k_sub,
        fresh.dim,
    )
    assert _rows(loaded.codes_long) == _rows(fresh.codes_long)
    assert _rows(
        similarity.cosine_topk_pq(loaded, k=5, n_queries=8)
    ) == _rows(similarity.cosine_topk_pq(fresh, k=5, n_queries=8))
    index = similarity.ivf_assign(emb, similarity.default_centroids(emb))
    assert _rows(
        similarity.cosine_topk_ivfpq(emb, index, loaded, k=5, n_queries=8)
    ) == _rows(
        similarity.cosine_topk_ivfpq(emb, index, fresh, k=5, n_queries=8)
    )


def test_bloom_filter_roundtrip_both_representations(spark, tmp_path):
    """Both bloom representations round-trip: the positions row (the
    cross-engine value artifact) and the packed words row (the O(1)
    probe form).  The reloaded filter admits a planted batch exactly as
    the fresh one, still carries its NON-DEFAULT geometry (so every
    probe surface reads the right hash family after a restart),
    and still accepts maintenance folds (bloom_filter_update)."""
    docs = load_table(spark, SF, "documents")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).limit(50)
    k, m = dedup.bloom_geometry(2000, 0.01)  # non-default on purpose
    fresh_bits = dedup.bloom_filter_build(history, k=k, m=m)
    ppath = str(tmp_path / "bloom_positions")
    dedup.save_bloom_filter(fresh_bits, ppath)
    loaded_bits = dedup.load_bloom_filter(spark, ppath)
    assert tuple(loaded_bits.select("k", "m").first()) == (k, m)
    hist_fps = dedup.history_fingerprints(history)

    def admit(bits):
        return _rows(
            dedup.bloom_admission_rows(
                batch, bits, hist_fps, k=k, m=m, materialize_probe=True
            )
        )

    assert admit(loaded_bits) == admit(fresh_bits)
    # packed words form
    wpath = str(tmp_path / "bloom_words")
    dedup.save_bloom_filter(dedup.bloom_pack_words(fresh_bits), wpath)
    loaded_words = dedup.load_bloom_filter(spark, wpath)
    assert "words" in loaded_words.columns
    assert admit(loaded_words) == admit(fresh_bits)
    # the reloaded positions row still folds maintenance batches
    updated = dedup.bloom_filter_update(loaded_bits, batch)
    rebuilt = dedup.bloom_filter_build(
        history.select("doc_id", "text").unionByName(
            batch.select("doc_id", "text")
        ),
        k=k,
        m=m,
    )
    assert _rows(updated.select("bits", "k", "m")) == _rows(
        rebuilt.select("bits", "k", "m")
    )
