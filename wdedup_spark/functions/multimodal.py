"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schemas, Arrow batch shapes, mapInPandas
partition flow, deterministic feature extraction for dedup — while the
actual media decoding is left out (no image/audio libraries are
required): features are a fixed-shape vector derived from a blake2
digest of the bytes, so downstream dedup/ANN over media features is
fully testable.

Schema contract (one row per asset):
  asset_id: long, modality: string in {image,audio,video},
  content: binary, meta: struct<width:int, height:int, duration_ms:int,
  mime:string>

At 100 TB: binary columns ride parquet byte arrays; mapInPandas streams
Arrow record batches so a partition never fully materializes in Python;
feature extraction is the narrow stage before any shuffle (same
sign-before-shuffle shape as MinHash over text).
"""

from __future__ import annotations

from collections.abc import Iterator
from hashlib import blake2b, md5

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("content", BinaryType(), False),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("duration_ms", IntegerType(), True),
                    StructField("mime", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 64

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("feature", ArrayType(FloatType()), False),
        StructField("content_hash", LongType(), False),
    ]
)


def _feature_from_bytes(content: bytes) -> np.ndarray:
    """Deterministic FEATURE_DIM-float feature from the content digest —
    the stand-in for an embedding model; same bytes → same feature."""
    d = blake2b(content, digest_size=FEATURE_DIM).digest()
    v = np.frombuffer(d, dtype=np.uint8).astype(np.float32)
    return v / np.linalg.norm(v)


def _content_hash(content: bytes) -> int:
    """Signed-i64 content hash: the first 8 md5 digest bytes big-endian
    (reinterpreted signed) — bit-identical to DuckDB's
    ('0x' || substr(md5(s),1,16))::UBIGINT, so media dedup is
    oracle-checkable."""
    u = int.from_bytes(md5(content).digest()[:8], "big")
    return u - (1 << 64) if u >= (1 << 63) else u


def extract_features(assets: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: assets(ASSET_SCHEMA) →
    FEATURE_SCHEMA.  Streams Arrow batches; never materializes a whole
    partition."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_feature_from_bytes(bytes(c)) for c in pdf["content"]]
            hashes = [_content_hash(bytes(c)) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "feature": [f.tolist() for f in feats],
                    "content_hash": pd.Series(hashes, dtype="int64"),
                }
            )

    return assets.mapInPandas(_extract, FEATURE_SCHEMA)


def exact_media_dups(features: DataFrame) -> DataFrame:
    """Byte-identical assets via content hash groupBy (same shape as text
    exact dedup): → (content_hash, rep_id, n_members)."""
    return features.groupBy("content_hash").agg(
        F.min("asset_id").alias("rep_id"), F.count(F.lit(1)).alias("n_members")
    )
