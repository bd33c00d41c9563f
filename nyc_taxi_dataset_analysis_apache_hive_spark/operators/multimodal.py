"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

North-star extension: the reference is tabular-only (whole of REF), but a
100-TB training-data pipeline carries media columns.  Design:

* media is an opaque ``binary`` payload column plus a typed ``meta`` struct
  (schema below) -- the table layer never interprets bytes;
* decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages (the sanctioned Python hot path: per *batch*, never
  per row, ~10-100x over row UDFs);
* the codecs are deterministic stand-ins (byte histograms, tiling,
  contiguous slices, crc32-seeded embeddings) -- the Spark-side plumbing
  (schemas, batch iteration, one-to-many frame explode, partitioning) is
  what the stages exercise; a real decoder replaces only the per-payload
  body of a generator.

Scale notes: every stage is a narrow map -- no shuffle, embarrassingly
parallel, Arrow-vectorized transfer.  Payload bytes stay in the executor;
nothing is collected to the driver.

NULL-payload policy (r9): a NULL payload (failed fetch, NULL source
text) propagates -- features/frames/resized payloads/embeddings come
back NULL for that row, never a crash and never a fabricated zero.
This matches the JVM-side byte accounting the oracles derive
(octet_length(NULL) IS NULL) and is what a 100-TB ingest needs: one
bad object must not kill a 10M-row batch.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: kind <- doc_id % 3 in the synthesized catalog
KINDS = ["image", "audio", "video"]

META_SCHEMA = StructType(
    [
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta", META_SCHEMA),
    ]
)

FEATURES_SCHEMA = (
    "media_id long, kind string, n_bytes long, crc32 long, "
    "byte_entropy double, first_byte int"
)

FRAMES_SCHEMA = "media_id long, frame_idx int, frame_payload binary, n_bytes long"

RESIZED_SCHEMA = (
    "media_id long, payload binary, width int, height int, resized boolean"
)


def synth_media_from_docs(docs: DataFrame) -> DataFrame:
    """Deterministic media catalog derived from the documents table.

    Payload = utf-8 bytes of the text (opaque to everything downstream);
    kind and meta are pure functions of doc_id.  All JVM-side expressions --
    the catalog itself costs no Python time at any scale.
    """
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.element_at(
                F.array(F.lit("png"), F.lit("wav"), F.lit("mp4")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("format"),
            (64 + (F.col("doc_id") % 16) * 32).cast("int").alias("width"),
            (64 + (F.col("doc_id") % 9) * 32).cast("int").alias("height"),
            F.when(F.col("doc_id") % 3 == 1, 16000).cast("int").alias("sample_rate"),
            F.when(
                F.col("doc_id") % 3 != 0, ((F.col("doc_id") % 30) + 1) * 1000
            )
            .cast("int")
            .alias("duration_ms"),
        ).alias("meta"),
    )


def media_features(media: DataFrame) -> DataFrame:
    """Decode/feature-extract stage: (media_id, kind, n_bytes, crc32,
    byte_entropy, first_byte) via Arrow-batched mapInPandas.

    ``byte_entropy`` is a byte-histogram Shannon entropy over the raw
    payload bytes -- the deterministic stand-in for decoded-content
    features.
    """

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import math

        import pandas as pd

        def entropy(b: bytes) -> float:
            if not b:
                return 0.0
            counts: dict[int, int] = {}
            for x in b:
                counts[x] = counts.get(x, 0) + 1
            n = len(b)
            return round(
                -sum(c / n * math.log2(c / n) for c in counts.values()), 6
            )

        for pdf in batches:
            # NULL payload (a failed fetch / NULL source text) -> every
            # feature NULL, matching the JVM-side octet_length(NULL)
            # accounting the m2 oracle derives (r9 adversarial sweep:
            # bytes(None) raised inside the batch before this guard)
            ent, first, n_bytes, crc = [], [], [], []
            for p in pdf["payload"]:
                if p is None:
                    ent.append(None)
                    first.append(None)
                    n_bytes.append(None)
                    crc.append(None)
                    continue
                b = bytes(p)
                n_bytes.append(len(b))
                crc.append(zlib.crc32(b) & 0xFFFFFFFF)
                ent.append(entropy(b))
                first.append(b[0] if b else -1)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.array(n_bytes, dtype="Int64"),
                    "crc32": pd.array(crc, dtype="Int64"),
                    "byte_entropy": pd.array(ent, dtype="Float64"),
                    "first_byte": pd.array(first, dtype="Int32"),
                }
            )

    return media.mapInPandas(gen, FEATURES_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stage for image rows.

    The stand-in 'resampler' tiles/truncates the payload to exactly
    ``width*height`` bytes (deterministic).  Non-image rows are filtered
    JVM-side, so the Python stage only ever sees image batches.

    NULL payloads follow the stage-wide NULL-propagation policy
    (media_features / sample_frames): every derived column comes back
    NULL -- payload, width, and height alike -- with ``resized=False``.
    Emitting the TARGET dims for a row that was never resized would
    claim an operation that did not happen.
    """
    target = width * height

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        for pdf in batches:
            out_payload = []
            resized_flags = [p is not None for p in pdf["payload"]]
            for p in pdf["payload"]:
                if p is None:  # NULL payload passes through as NULL
                    out_payload.append(None)
                    continue
                b = bytes(p) or b"\x00"
                reps = -(-target // len(b))  # ceil
                out_payload.append((b * reps)[:target])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out_payload,
                    "width": pd.array(
                        [width if f else None for f in resized_flags],
                        dtype="Int32",
                    ),
                    "height": pd.array(
                        [height if f else None for f in resized_flags],
                        dtype="Int32",
                    ),
                    "resized": resized_flags,
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(gen, RESIZED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling stage for video rows: one input row -> ``n_frames``
    output rows (media_id, frame_idx, frame_payload, n_bytes).

    Demonstrates the one-to-many mapInPandas shape (a video decoder emits
    frame batches); the stand-in splits the payload into n contiguous
    slices.
    """

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:  # NULL payload -> n_frames NULL frames
                    for i in range(n_frames):
                        ids.append(mid)
                        idxs.append(i)
                        frames.append(None)
                    continue
                b = bytes(p)
                n = len(b)
                for i in range(n_frames):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(b[n * i // n_frames : n * (i + 1) // n_frames])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_payload": frames,
                    "n_bytes": pd.array(
                        [None if f is None else len(f) for f in frames],
                        dtype="Int64",
                    ),
                }
            )

    return media.filter(F.col("kind") == "video").mapInPandas(gen, FRAMES_SCHEMA)


def media_embeddings(media: DataFrame, dim: int = 16) -> DataFrame:
    """Deterministic fake media embeddings: payload -> array<double>[dim].

    Stand-in for a vision/audio tower; seeds numpy from crc32(payload) so
    the output is stable across runs/partitionings, then L2-normalizes --
    ready for the similarity operators (cosine = dot product).
    """
    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        for pdf in batches:
            embs = []
            for p in pdf["payload"]:
                if p is None:  # NULL payload -> NULL embedding
                    embs.append(None)
                    continue
                rng = np.random.default_rng(zlib.crc32(bytes(p)) & 0xFFFFFFFF)
                v = rng.standard_normal(dim)
                embs.append((v / np.linalg.norm(v)).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "embedding": embs})

    return media.mapInPandas(gen, "media_id long, embedding array<double>")
