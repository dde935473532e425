"""Multimodal plumbing tests: binary columns, mapInPandas feature
extraction (deterministic stub), frame sampling."""

from __future__ import annotations

import pytest

from nomba_data_pipeline_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    extract_features,
    sample_frames,
)


@pytest.fixture
def media(spark):
    rows = [
        (1, "image", b"\x01\x02\x03\x04" * 64, "image/png", 8, 8, None),
        (2, "image", b"\xff\xee" * 100, "image/jpeg", 4, 4, None),
        (3, "audio", b"\x10" * 500, "audio/wav", None, None, 3000),
        (4, "video", b"\xab\xcd" * 300, "video/mp4", 16, 16, 3500),
        (5, "image", None, "image/png", 1, 1, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_shape_and_determinism(spark, media):
    feats = extract_features(media).collect()
    assert len(feats) == 5
    by_id = {r.media_id: r.feature for r in feats}
    assert all(len(v) == FEATURE_DIM for v in by_id.values())
    # unit-norm for non-null payloads
    assert abs(sum(x * x for x in by_id[1]) - 1.0) < 1e-9
    # null payload -> zero vector, no crash
    assert all(x == 0.0 for x in by_id[5])
    # deterministic across runs
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert by_id == again


def test_sample_frames_row_multiplication(spark, media):
    frames = sample_frames(media, every_ms=1000).collect()
    # only the video row (duration 3500ms) -> frames at 0,1000,2000,3000
    assert sorted(r.frame_ts_ms for r in frames) == [0, 1000, 2000, 3000]
    assert all(r.media_id == 4 for r in frames)
