"""Multimodal column handling: opaque media blobs with typed metadata.

Media arrives as ``kind='media'`` spans (an opaque ``media_ref`` plus alt
text). At 100 TB the blobs themselves live in object storage addressed by
``media_ref``; the engine's job is the Spark-side plumbing — schema,
batch shape, partitioning — with the actual codec behind a seam.

The decode step is STUBBED (no image/audio libraries in this container):
``decode_stub=True`` (default) produces a deterministic fake feature
vector derived from the media_ref bytes — schema-true, reproducible, and
cheap — while ``decode_stub=False`` raises NotImplementedError at the
seam where a real decoder (PIL/ffmpeg on the executors) would plug in.
Everything around the seam — mapInPandas over Arrow batches, the feature
schema, media inventory — is real and tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..plans.session import lazy_zip_invalidation

__all__ = [
    "media_inventory",
    "media_features",
    "media_frame_samples",
    "MEDIA_FEATURE_SCHEMA",
    "MEDIA_FRAME_SCHEMA",
]

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("media_type", StringType()),
        StructField("alt_text", StringType()),
        StructField("content_hash", LongType()),
        StructField("feature_dim", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 8


def media_inventory(documents: DataFrame) -> DataFrame:
    """Explode media spans: (doc_id, media_ref, alt_text, media_type, pos).

    Pure Catalyst — the media type is parsed from the ref scheme
    (``media://<type>/<hash>``)."""
    media = documents.select(
        "doc_id",
        F.explode(
            F.filter(F.col("spans"), lambda s: s["kind"] == "media")
        ).alias("m"),
    )
    return media.select(
        "doc_id",
        F.col("m.media_ref").alias("media_ref"),
        F.col("m.text").alias("alt_text"),
        F.regexp_extract(F.col("m.media_ref"), r"^media://([^/]+)/", 1).alias(
            "media_type"
        ),
        F.col("m.offset").alias("pos"),
    )


def _decode_features(media_ref: str, stub: bool) -> list[float]:
    if not stub:
        # The real decoder seam: fetch the blob for media_ref from object
        # storage, decode (image resize / audio resample / video frame
        # sample), run the featurizer. Not available in this container.
        raise NotImplementedError(
            "real media decoding requires image/audio libraries; "
            "run with decode_stub=True"
        )
    digest = hashlib.md5((media_ref or "").encode("utf-8")).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def _feature_batches(stub: bool):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lazy_zip_invalidation()
        for pdf in batches:
            refs = pdf["media_ref"].tolist()
            digests = [
                hashlib.md5((r or "").encode("utf-8")).digest() for r in refs
            ]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].tolist(),
                    "media_ref": refs,
                    "media_type": pdf["media_type"].tolist(),
                    "alt_text": pdf["alt_text"].tolist(),
                    "content_hash": [
                        int.from_bytes(d[:8], "big", signed=True)
                        for d in digests
                    ],
                    "feature_dim": FEATURE_DIM,
                    # stub features come straight from the digests already
                    # computed for content_hash (one md5 per ref, not two);
                    # _decode_features remains the stub=False seam for a
                    # real decoder
                    "features": (
                        [[b / 255.0 for b in d[:FEATURE_DIM]] for d in digests]
                        if stub
                        else [_decode_features(r, stub) for r in refs]
                    ),
                },
                columns=[f.name for f in MEDIA_FEATURE_SCHEMA.fields],
            )
            yield out

    return run


def media_features(
    documents: DataFrame, decode_stub: bool = True, num_partitions: int | None = None
) -> DataFrame:
    """Media spans → per-media feature rows via Arrow-batched mapInPandas.

    The inventory explode is native; only the decode runs in Python (the
    shape real image/audio featurization would take)."""
    inv = media_inventory(documents)
    if num_partitions:
        inv = inv.repartition(num_partitions, F.col("media_ref"))
    return inv.mapInPandas(_feature_batches(decode_stub), MEDIA_FEATURE_SCHEMA)


FRAME_FEATURE_DIM = 4

MEDIA_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_hash", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def _frame_digest(media_ref: str, frame_idx: int) -> bytes:
    return hashlib.md5(f"{media_ref}#frame{frame_idx}".encode()).digest()


def media_frame_samples(
    documents: DataFrame,
    n_frames: int = 3,
    decode_stub: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """One-to-many media decode: sample ``n_frames`` frames per media
    span and featurize each — the video/audio frame-sampling shape
    (mapInPandas expanding each input row into several output rows, so
    Arrow batch sizing and partitioning must tolerate the fan-out).

    Like media_features, the decoder is a documented stub seam: frames
    are deterministic md5 derivations of (media_ref, frame_idx) — a real
    decoder (ffmpeg frame grab + featurizer on the executors) replaces
    ``_frame_digest`` behind the same schema. Output: (doc_id,
    media_ref, frame_idx, frame_hash, features[FRAME_FEATURE_DIM])."""
    if not decode_stub:
        raise NotImplementedError(
            "real frame decoding requires video/audio libraries; "
            "run with decode_stub=True"
        )
    inv = media_inventory(documents)
    if num_partitions:
        inv = inv.repartition(num_partitions, F.col("media_ref"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lazy_zip_invalidation()
        # columnar construction like _feature_batches (commit e9d5460):
        # repeat the input columns n_frames times, tile the frame index,
        # digest once per output row — no per-row dict records
        for pdf in batches:
            doc_ids = [d for d in pdf["doc_id"] for _ in range(n_frames)]
            refs = [r for r in pdf["media_ref"] for _ in range(n_frames)]
            idxs = list(range(n_frames)) * len(pdf)
            digests = [
                _frame_digest(r or "", i) for r, i in zip(refs, idxs)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "media_ref": refs,
                    "frame_idx": idxs,
                    "frame_hash": [
                        int.from_bytes(d[:8], "big", signed=True)
                        for d in digests
                    ],
                    "features": [
                        [b / 255.0 for b in d[:FRAME_FEATURE_DIM]]
                        for d in digests
                    ],
                },
                columns=[f.name for f in MEDIA_FRAME_SCHEMA.fields],
            )

    return inv.mapInPandas(run, MEDIA_FRAME_SCHEMA)
