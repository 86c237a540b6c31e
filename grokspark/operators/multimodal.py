"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed in Arrow batches via mapInPandas.

PNG payloads get a REAL decode — the pure-stdlib zlib+struct codec in
``grokspark.operators.png`` (width/height/integer-exact luma) —
baseline JPEG payloads get a REAL decode via the pure-Python codec in
``grokspark.operators.jpeg`` (huffman + IDCT; 4:4:4/4:2:2/4:2:0 +
restart markers; progressive rejected loudly), and WAV audio gets a
REAL decode via the stdlib ``wave`` codec (see
``grokspark.operators.audio``). Remaining image formats need codecs
this container lacks, so they raise NotImplementedError.

Payload-table shape: (item_id string, modality string, payload binary,
meta struct<mime:string, n_bytes:long>).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grokspark.operators.jpeg import JPEG_MAGIC, fake_jpeg, jpeg_features
from grokspark.operators.png import (
    PNG_MAGIC,
    decode_video,
    fake_png,
    fake_video,
    png_features,
    thumbnail_png,
)

__all__ = [
    "decode_image",
    "extract_image_features",
    "jpeg_payload_df",
    "png_payload_df",
    "resize_images",
    "video_payload_df",
    "sample_video_frames",
]

FEATURE_SCHEMA = (
    "item_id string, modality string, n_bytes long, "
    "width int, height int, mean_luma double, luma_milli long, sha1 string"
)


def decode_image(payload: bytes) -> dict:
    """Decode an image payload into (width, height, mean_luma,
    luma_milli).

    PNG and baseline-JPEG payloads (signature-detected) decode for
    real via the pure-Python codecs (``png.py`` / ``jpeg.py``); any
    other format raises NotImplementedError (its codec is not present
    in this container)."""
    if payload[: len(PNG_MAGIC)] == PNG_MAGIC:
        return png_features(bytes(payload))
    if payload[: len(JPEG_MAGIC)] == JPEG_MAGIC:
        return jpeg_features(bytes(payload))
    raise NotImplementedError(
        "only PNG and baseline JPEG decode natively here; other "
        "image codecs are not available in this environment"
    )


def extract_image_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Batches arrive as Arrow record batches (bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch); each batch is decoded
    in one Python call — the pattern a real codec plugs into."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_image(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "item_id": pdf["item_id"].values,
                    "modality": pdf["modality"].values,
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "mean_luma": [f["mean_luma"] for f in feats],
                    "luma_milli": [f["luma_milli"] for f in feats],
                    "sha1": [hashlib.sha1(p).hexdigest() for p in pdf["payload"]],
                }
            )
            yield out

    return df.mapInPandas(extract, schema=FEATURE_SCHEMA)


def resize_images(df: DataFrame, max_dim: int) -> DataFrame:
    """REAL distributed image resize: every PNG payload is decoded,
    nearest-neighbor-downsampled so its longer side <= ``max_dim``, and
    re-encoded (uniform 8-bit RGB) — the batch-preprocessing step a
    vision-training pipeline runs before feature extraction. Output
    keeps the payload-table shape, so it composes with
    ``extract_image_features`` directly. Non-PNG payloads raise (the
    codec gap is loud, never silent)."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = [thumbnail_png(bytes(p), max_dim) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"].values,
                    "modality": pdf["modality"].values,
                    "payload": thumbs,
                    "mime": "image/png",
                    "n_bytes": [len(p) for p in thumbs],
                }
            )

    flat = df.select("item_id", "modality", "payload").mapInPandas(
        resize,
        schema="item_id string, modality string, payload binary, mime string, n_bytes long",
    )
    return flat.select(
        "item_id", "modality", "payload", F.struct("mime", "n_bytes").alias("meta")
    )


def video_payload_df(
    df: DataFrame, n_frames: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic video payload table from a text table: each row
    becomes a GSV1 container of ``n_frames`` PNG frames (see
    grokspark.operators.png — a real, decodable container; only the
    per-frame codec is PNG because this environment has no video
    codecs). Rendered distributed in mapInPandas."""

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                fake_video(str(i), t if t is not None else "", n_frames)
                for i, t in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(
                {
                    "item_id": pdf[id_col].astype(str).values,
                    "modality": "video",
                    "payload": payloads,
                    "mime": "video/x-gsv1",
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    flat = df.select(id_col, text_col).mapInPandas(
        render,
        schema="item_id string, modality string, payload binary, mime string, n_bytes long",
    )
    return flat.select(
        "item_id", "modality", "payload", F.struct("mime", "n_bytes").alias("meta")
    )


def sample_video_frames(df: DataFrame, stride: int = 1) -> DataFrame:
    """REAL frame sampling: parse each GSV1 video payload, keep every
    ``stride``-th frame (indices 0, stride, 2*stride, ...), and emit
    one IMAGE-payload row per kept frame — the 1->N row fan-out a
    frame-level training pipeline needs, done inside mapInPandas (an
    output batch may hold frames of many inputs; Arrow batch sizing
    caps memory). The result composes with ``extract_image_features``
    / ``resize_images`` unchanged."""
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                frames = decode_video(bytes(payload))
                for idx in range(0, len(frames), stride):
                    rows.append((item_id, idx, frames[idx], len(frames[idx])))
            yield pd.DataFrame(
                rows, columns=["item_id", "frame_idx", "payload", "n_bytes"]
            )

    flat = df.select("item_id", "payload").mapInPandas(
        sample,
        schema="item_id string, frame_idx int, payload binary, n_bytes long",
    )
    return flat.select(
        F.concat_ws("#", "item_id", F.col("frame_idx").cast("string")).alias(
            "item_id"
        ),
        F.col("item_id").alias("video_id"),
        "frame_idx",
        F.lit("image").alias("modality"),
        "payload",
        F.struct(
            F.lit("image/png").alias("mime"), F.col("n_bytes").alias("n_bytes")
        ).alias("meta"),
    )


def jpeg_payload_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic REAL-JPEG payload table from a text table — the
    JPEG twin of ``png_payload_df``. Every other row (by a pure
    function of the id digest, so partition-independent) is encoded
    4:2:0 instead of 4:4:4, exercising both subsampling paths of the
    decoder in the distributed gate."""

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                fake_jpeg(
                    str(i),
                    t if t is not None else "",
                    subsample_420=hashlib.sha256(str(i).encode()).digest()[2] % 2 == 0,
                )
                for i, t in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(
                {
                    "item_id": pdf[id_col].astype(str).values,
                    "modality": "image",
                    "payload": payloads,
                    "mime": "image/jpeg",
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    flat = df.select(id_col, text_col).mapInPandas(
        render,
        schema="item_id string, modality string, payload binary, mime string, n_bytes long",
    )
    return flat.select(
        "item_id",
        "modality",
        "payload",
        F.struct("mime", "n_bytes").alias("meta"),
    )


def png_payload_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL-PNG payload table from a text table: each row
    becomes a small RGB PNG whose dimensions/pixels are a pure function
    of (id, text). Rendered distributed in mapInPandas — the shape a
    real media-ingest stage has (binary column + typed metadata)."""

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                fake_png(str(i), t if t is not None else "")
                for i, t in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(
                {
                    "item_id": pdf[id_col].astype(str).values,
                    "modality": "image",
                    "payload": payloads,
                    "mime": "image/png",
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    flat = df.select(id_col, text_col).mapInPandas(
        render,
        schema="item_id string, modality string, payload binary, mime string, n_bytes long",
    )
    return flat.select(
        "item_id",
        "modality",
        "payload",
        F.struct("mime", "n_bytes").alias("meta"),
    )
