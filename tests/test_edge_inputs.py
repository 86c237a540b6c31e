"""Legal edge inputs never fail an operator: zero rows give an empty,
typed result, and a NULL key or text has a defined outcome. This slice
covers the media operators."""

from __future__ import annotations

import pytest

from grokspark.operators.audio import extract_audio_features, wav_payload_df
from grokspark.operators.multimodal import (
    extract_image_features,
    jpeg_payload_df,
    png_payload_df,
    video_payload_df,
)

RENDERERS = [png_payload_df, jpeg_payload_df, video_payload_df, wav_payload_df]
PAYLOAD_COLUMNS = ["item_id", "modality", "payload", "meta"]
IMAGE_FEATURE_COLUMNS = [
    "item_id", "modality", "n_bytes", "width", "height", "mean_luma",
    "luma_milli", "sha1",
]
AUDIO_FEATURE_COLUMNS = [
    "item_id", "modality", "n_bytes", "sample_rate", "n_samples",
    "duration_ms", "rms_milli", "zero_crossings", "sha1",
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


@pytest.mark.parametrize("render", RENDERERS, ids=lambda f: f.__name__)
def test_renderer_zero_rows(spark, render):
    out = render(_docs(spark, []))
    assert out.columns == PAYLOAD_COLUMNS
    assert out.collect() == []


@pytest.mark.parametrize(
    "render, extract, columns",
    [
        (png_payload_df, extract_image_features, IMAGE_FEATURE_COLUMNS),
        (wav_payload_df, extract_audio_features, AUDIO_FEATURE_COLUMNS),
    ],
    ids=["image", "audio"],
)
def test_extract_zero_rows(spark, render, extract, columns):
    out = extract(render(_docs(spark, [])))
    assert out.columns == columns
    assert out.collect() == []


@pytest.mark.parametrize("render", RENDERERS, ids=lambda f: f.__name__)
def test_renderer_null_text_renders_as_empty(spark, render):
    rows = render(_docs(spark, [("k", None), ("k", "")])).collect()
    assert len(rows) == 2
    assert rows[0] == rows[1]
    assert rows[0]["item_id"] == "k"
    assert rows[0]["meta"]["n_bytes"] == len(rows[0]["payload"]) > 0
