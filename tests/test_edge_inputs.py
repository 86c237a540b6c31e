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


@pytest.mark.parametrize("render", RENDERERS, ids=lambda f: f.__name__)
def test_renderer_null_id_renders_null_item_id(spark, render):
    """NULL in, NULL out: a NULL ``doc_id`` keeps ``item_id`` NULL and
    its payload is keyed on ``""``, like a NULL text."""
    rows = render(_docs(spark, [(None, "t"), ("", "t")])).collect()
    assert [r["item_id"] for r in rows] == [None, ""]
    assert rows[0]["payload"] == rows[1]["payload"]
    assert rows[0]["meta"] == rows[1]["meta"]


def test_sampled_frames_of_a_null_video_id_keep_item_id_null(spark):
    from grokspark.operators.multimodal import sample_video_frames

    videos = video_payload_df(_docs(spark, [(None, "t"), ("v", "t")]))
    frames = sample_video_frames(videos, stride=2).collect()
    got = sorted(
        ((r["video_id"] or "", r["frame_idx"], r["item_id"]) for r in frames),
    )
    assert got == [("", 0, None), ("", 2, None), ("v", 0, "v#0"), ("v", 2, "v#2")]
