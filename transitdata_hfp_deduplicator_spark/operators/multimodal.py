"""Multimodal (image/audio/video) column plumbing.

Design (north-star surface): media rides as an opaque ``binary`` column
plus a typed metadata struct — the same envelope philosophy as the
reference's payload bytes + properties (SURVEY.md §1.1).  All heavy
per-item work (decode, feature-extract, resize, frame-sample) runs as
Arrow-batched ``mapInPandas`` over the binary column, so each executor
processes whole record batches with zero JVM<->Python per-row cost and
the 100 TB layout question reduces to "partition the binary table".

No media codec (PIL/librosa/av) is used, so decoding is a STUB: a
clearly-marked deterministic fake (``_fake_decode``) keeps the
Spark-side plumbing (schema, batch iteration, UDF signatures) real and
testable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_FIELDS = "media_id long, media_type string, width int, height int, n_frames int, feature array<float>"


def media_from_binary(
    df: DataFrame, id_col: str, content_col: str, media_type: str = "image"
) -> DataFrame:
    """Wrap an arbitrary binary column into the media envelope."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(media_type).alias("media_type"),
        F.col(content_col).cast("binary").alias("content"),
        F.struct(
            F.lit("inline").alias("source"),
            F.length(F.col(content_col).cast("binary")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_decode(content: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic FAKE decode — stands in for a real codec.

    Derives (width, height, n_frames, 8-dim feature) purely from the
    content digest, so tests are reproducible and the full pipeline
    (schema, batching, downstream joins) runs without image libraries.
    """
    d = hashlib.sha256(content or b"").digest()
    width = 16 + d[0]
    height = 16 + d[1]
    n_frames = 1 + d[2] % 8
    feature = [round(b / 255.0, 6) for b in d[3:11]]
    return width, height, n_frames, feature


def decode_media(df: DataFrame) -> DataFrame:
    """Decode + feature-extract over the binary column via mapInPandas.

    Decoding uses the deterministic fake (``_fake_decode``), so
    everything downstream of decode is real and tested without PIL,
    librosa or av.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_fake_decode(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                    "feature": [d[3] for d in decoded],
                }
            )

    return df.mapInPandas(kernel, DECODED_FIELDS)


def resize_media(decoded: DataFrame, max_side: int = 64) -> DataFrame:
    """Aspect-preserving resize planning.

    Computes the target geometry (longest side clamped to ``max_side``,
    aspect ratio kept, never upscale) as pure JVM columns and flags the
    rows that NEED resampling — at lake scale that filter is the point,
    most media is already within bounds.  No pixels are resampled: the
    bytes pass through and ``resized`` marks the flagged rows, so the
    downstream plumbing is testable without PIL or av.
    """
    scale = F.least(
        F.lit(1.0),
        F.lit(float(max_side)) / F.greatest("width", "height"),
    )
    planned = decoded.withColumn(
        "target_w", F.greatest(F.lit(1), F.floor(F.col("width") * scale)).cast("int")
    ).withColumn(
        "target_h", F.greatest(F.lit(1), F.floor(F.col("height") * scale)).cast("int")
    ).withColumn(
        "needs_resize",
        (F.col("target_w") != F.col("width")) | (F.col("target_h") != F.col("height")),
    )
    return planned.withColumn("resized", F.col("needs_resize"))


def frame_sample(decoded: DataFrame, every_nth: int = 2) -> DataFrame:
    """Explode videos into sampled frame rows (frame indices 0, n, 2n…)
    — pure column ops; at scale this is the row-multiplying step, so it
    runs AFTER filters on the decoded metadata."""
    return decoded.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_nth))),
    )


def byte_stats(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Digest + size stats of the raw bytes — pure JVM columns (no
    Python), the cheap pre-decode pass used for exact dedup of media."""
    c = F.col(content_col)
    return df.withColumn("n_bytes", F.length(c).cast("bigint")).withColumn(
        "digest", F.md5(c)
    ).withColumn("n_chunks", F.ceil(F.length(c) / F.lit(256)).cast("bigint"))
