"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata. Metadata extraction is pure built-in expressions (the
fast path); only the codec-requiring decode step uses Arrow-batched
``mapInPandas``.

No image/audio codec library is available, so the DECODE step is stubbed
(deterministic fake features) — but the Spark-side plumbing is real and tested: schema contracts, batch iteration,
partition-preserving metadata extraction, and the UDF signatures a decoder
would plug into. At scale the binary payloads stay columnar (parquet binary)
and the Arrow transfer moves whole batches, never rows.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "asset_id long, media_type string, byte_len long, sha256 string, magic string"
)

FEATURE_SCHEMA = "asset_id long, feature array<float>, decoder string"


def to_media_assets(df: DataFrame, id_col: str, payload_col: str, media_type: str) -> DataFrame:
    """Wrap any column as an opaque binary asset column with typed metadata."""
    return df.select(
        F.col(id_col).cast("long").alias("asset_id"),
        F.lit(media_type).alias("media_type"),
        F.col(payload_col).cast("binary").alias("payload"),
    )


def extract_metadata(assets: DataFrame) -> DataFrame:
    """All-JVM metadata pass: byte length, sha256, magic bytes — pure
    built-in expressions (whole-stage-codegen'd, no Arrow crossing, no
    Python in the row path). ``mapInPandas`` is reserved for the one step
    that genuinely needs a Python codec (:func:`decode_and_featurize`)."""
    payload = F.col("payload")
    return assets.select(
        "asset_id",
        "media_type",
        F.coalesce(F.length(payload), F.lit(0)).cast("long").alias("byte_len"),
        F.sha2(payload, 256).alias("sha256"),
        F.lower(F.hex(F.substring(payload, 1, 4))).alias("magic"),
    )


def decode_and_featurize(assets: DataFrame, n_features: int = 8) -> DataFrame:
    """The decode→feature step a real pipeline would run (resize, frame
    sample, mel-spectrogram...). No media codec library is available, so
    this STUB produces a deterministic fake feature vector derived from
    content bytes; the distributed plumbing (batch shape, schema,
    partitioning) is fully exercised and testable."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf["payload"]:
                if b is None:
                    feats.append(None)
                    continue
                dg = hashlib.sha256(bytes(b)).digest()
                feats.append(
                    [float(dg[i]) / 255.0 for i in range(n_features)]
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "feature": feats,
                    "decoder": ["stub-sha256"] * len(pdf),
                }
            )

    return assets.mapInPandas(op, schema=FEATURE_SCHEMA)
