"""Multimodal plumbing: decode (fake codec), resize planning, frame
sampling — the Spark-side shapes are real even where the pixel codec is
a documented stub (none ships in this environment)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.operators.multimodal import (
    decode_media,
    frame_sample,
    media_from_binary,
    resize_media,
)


@pytest.fixture(scope="module")
def decoded(spark, sf_dir):
    import os

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(200)
    media = media_from_binary(docs, "doc_id", "text")
    return decode_media(media).cache()


def test_resize_geometry(decoded):
    out = resize_media(decoded, max_side=64).collect()
    assert out, "no decoded rows"
    for r in out:
        assert max(r.target_w, r.target_h) <= 64
        assert r.target_w >= 1 and r.target_h >= 1
        # never upscale
        assert r.target_w <= r.width and r.target_h <= r.height
        if r.needs_resize:
            # exact geometry: floor(side * 64/longest), clamped to >= 1
            s = 64 / max(r.width, r.height)
            assert r.target_w == max(1, int(r.width * s))
            assert r.target_h == max(1, int(r.height * s))
            assert r.resized
        else:
            assert (r.target_w, r.target_h) == (r.width, r.height)
            assert not r.resized


def test_resize_noop_when_within_bounds(decoded):
    big = resize_media(decoded, max_side=10_000).collect()
    assert all(not r.needs_resize for r in big)


def test_frame_sample_indices(decoded):
    frames = frame_sample(decoded, every_nth=2).collect()
    for r in frames:
        assert 0 <= r.frame_idx < r.n_frames
        assert r.frame_idx % 2 == 0
