"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by one Arrow row mapper (``map_rows``, one mapInArrow stage)
that every media operator here and in ``grokspark.operators.audio``
runs on.

PNG payloads get a REAL decode — the pure-stdlib zlib+struct codec in
``grokspark.operators.png`` (width/height/integer-exact luma) —
baseline JPEG payloads get a REAL decode via the pure-Python codec in
``grokspark.operators.jpeg`` (huffman + IDCT; 4:4:4/4:2:2/4:2:0 +
restart markers; progressive rejected loudly), and WAV audio gets a
REAL decode via the stdlib ``wave`` codec (see
``grokspark.operators.audio``). Remaining image formats need codecs
this container lacks, so they raise NotImplementedError.

Every payload table, image, video and audio alike, has one shape,
``PAYLOAD_DDL``: (item_id string, modality string, payload binary,
meta struct<mime:string, n_bytes:bigint>); ``payload_row`` builds its
rows. Sampled video frames add ``video_id`` and ``frame_idx`` after
``item_id``. The renderers, which fabricate payload tables from
``(doc_id, text)`` rows, run on one stage (``render_payloads``) with one
NULL rule: NULL in, NULL out. A NULL ``doc_id`` gives a NULL
``item_id`` (and a sampled frame of a NULL ``video_id`` a NULL
``item_id`` too); payloads are keyed on ``""`` for a NULL id and
rendered from ``""`` for a NULL text.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

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

_PAYLOAD_COLS = (
    "modality string, payload binary, meta struct<mime: string, n_bytes: bigint>"
)
PAYLOAD_DDL = "item_id string, " + _PAYLOAD_COLS

FEATURE_SCHEMA = (
    "item_id string, modality string, n_bytes long, "
    "width int, height int, mean_luma double, luma_milli long, sha1 string"
)


def payload_row(
    item_id: Optional[str], modality: str, mime: str, payload: bytes
) -> tuple:
    """One ``PAYLOAD_DDL`` row; ``meta.n_bytes`` is the payload's size."""
    return (item_id, modality, payload, {"mime": mime, "n_bytes": len(payload)})


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], ddl: str
) -> DataFrame:
    """Run ``fn(*row)`` over every row of ``df`` in one mapInArrow
    stage; ``fn`` yields the output tuples (``ddl`` column order) of
    one input row, so a row may map to zero, one or many rows. Each
    Arrow batch (bounded by spark.sql.execution.arrow.maxRecordsPerBatch)
    crosses into Python once per column (``to_pylist``) and back once
    (``RecordBatch.from_pylist``)."""
    schema = to_arrow_schema(StructType.fromDDL(ddl))
    names = schema.names

    def run(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.RecordBatch]:
        for batch in batches:
            cols = [c.to_pylist() for c in batch.columns]
            rows = [dict(zip(names, out)) for row in zip(*cols) for out in fn(*row)]
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return df.mapInArrow(run, ddl)


def render_payloads(
    df: DataFrame, modality: str, mime: str, make: Callable[[str, str], bytes]
) -> DataFrame:
    """The payload table of a ``(doc_id, text)`` table, one row per
    input row with payload ``make(key, text)``: ``key`` is
    ``str(doc_id)``, or ``""`` for a NULL id (whose ``item_id`` stays
    NULL), and a NULL text renders as ``""``."""

    def render(doc_id, text):
        key = "" if doc_id is None else str(doc_id)
        item_id = None if doc_id is None else key
        yield payload_row(item_id, modality, mime, make(key, text or ""))

    return map_rows(df.select("doc_id", "text"), render, PAYLOAD_DDL)


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
    """Feature extraction over a payload table's ``(item_id, modality,
    payload)``: one ``decode_image`` per row — the pattern a real codec
    plugs into. Emits ``FEATURE_SCHEMA`` rows."""

    def extract(item_id, modality, payload):
        f = decode_image(payload)
        yield (
            item_id, modality, len(payload), f["width"], f["height"],
            f["mean_luma"], f["luma_milli"], hashlib.sha1(payload).hexdigest(),
        )

    return map_rows(
        df.select("item_id", "modality", "payload"), extract, FEATURE_SCHEMA
    )


def resize_images(df: DataFrame, max_dim: int) -> DataFrame:
    """REAL distributed image resize: every PNG payload is decoded,
    nearest-neighbor-downsampled so its longer side <= ``max_dim``, and
    re-encoded (uniform 8-bit RGB) — the batch-preprocessing step a
    vision-training pipeline runs before feature extraction. Output
    keeps the payload-table shape, so it composes with
    ``extract_image_features`` directly. Non-PNG payloads raise (the
    codec gap is loud, never silent)."""

    def resize(item_id, modality, payload):
        thumb = thumbnail_png(payload, max_dim)
        yield payload_row(item_id, modality, "image/png", thumb)

    return map_rows(df.select("item_id", "modality", "payload"), resize, PAYLOAD_DDL)


def video_payload_df(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Deterministic video payload table from a ``(doc_id, text)``
    table: each row becomes a GSV1 container of ``n_frames`` PNG frames
    (see grokspark.operators.png — a real, decodable container; only
    the per-frame codec is PNG because this environment has no video
    codecs). Rendered distributed."""
    return render_payloads(
        df, "video", "video/x-gsv1", lambda key, text: fake_video(key, text, n_frames)
    )


def sample_video_frames(df: DataFrame, stride: int = 1) -> DataFrame:
    """REAL frame sampling: parse each GSV1 video payload, keep every
    ``stride``-th frame (indices 0, stride, 2*stride, ...), and emit
    one IMAGE-payload row per kept frame, ``item_id`` =
    ``<video_id>#<frame_idx>`` (NULL for a NULL ``video_id``) — the
    1->N row fan-out a frame-level training pipeline needs (an output
    batch may hold frames of many inputs; Arrow batch sizing caps
    memory). The result composes with ``extract_image_features`` /
    ``resize_images`` unchanged."""
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")

    def sample(video_id, payload):
        frames = decode_video(payload)
        for idx in range(0, len(frames), stride):
            item_id = None if video_id is None else f"{video_id}#{idx}"
            row = payload_row(item_id, "image", "image/png", frames[idx])
            yield (item_id, video_id, idx, *row[1:])

    return map_rows(
        df.select("item_id", "payload"),
        sample,
        "item_id string, video_id string, frame_idx int, " + _PAYLOAD_COLS,
    )


def jpeg_payload_df(df: DataFrame) -> DataFrame:
    """Deterministic REAL-JPEG payload table from a ``(doc_id, text)``
    table — the JPEG twin of ``png_payload_df``. Every other row (by a
    pure function of the id digest, so partition-independent) is
    encoded 4:2:0 instead of 4:4:4, exercising both subsampling paths
    of the decoder in the distributed gate."""

    def make(key, text):
        sub = hashlib.sha256(key.encode()).digest()[2] % 2 == 0
        return fake_jpeg(key, text, subsample_420=sub)

    return render_payloads(df, "image", "image/jpeg", make)


def png_payload_df(df: DataFrame) -> DataFrame:
    """Deterministic REAL-PNG payload table from a ``(doc_id, text)``
    table: each row becomes a small RGB PNG whose dimensions/pixels are
    a pure function of (id, text). Rendered distributed — the shape a
    real media-ingest stage has (binary column + typed metadata)."""
    return render_payloads(df, "image", "image/png", fake_png)
