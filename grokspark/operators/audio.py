"""REAL audio support for the multimodal column family: RIFF/WAVE
PCM16 payloads decoded with the stdlib ``wave`` codec (no external
audio libraries needed — WAV is the one mainstream audio container the
standard library parses natively), plus deterministic payload
fabrication for tests/benches.

Mirrors the PNG design in ``png.py``/``multimodal.py``: opaque
``binary`` payload column, the payload-table shape and Arrow row
mapper of ``multimodal.py`` on the Spark side, integer-exact features
so the single-process twin oracle matches bit-for-bit, and a loud
``NotImplementedError`` for formats the container genuinely cannot
decode (MP3/OGG/FLAC) instead of a silent fake.

Features are the standard cheap audio-quality signals a training
pipeline filters on: duration, RMS energy, zero-crossing rate —
the audio analogues of text length / punct ratio.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave

from pyspark.sql import DataFrame

from grokspark.operators.multimodal import (
    PAYLOAD_DDL,
    map_rows,
    payload_row,
    render_payloads,
)

__all__ = [
    "fake_wav",
    "wav_features",
    "resample_wav",
    "wav_payload_df",
    "extract_audio_features",
    "resample_audio",
    "AUDIO_FEATURE_SCHEMA",
]

RIFF_MAGIC = b"RIFF"

AUDIO_FEATURE_SCHEMA = (
    "item_id string, modality string, n_bytes long, sample_rate int, "
    "n_samples long, duration_ms long, rms_milli long, zero_crossings long, "
    "sha1 string"
)


def fake_wav(key: str, text: str, sample_rate: int = 8000) -> bytes:
    """Deterministic PCM16 mono WAV derived from (key, text): sample
    count 256..2303 from the key digest, samples from a SHA-256 stream
    of the text (same fabrication idiom as ``png.fake_png``). The
    output is a REAL RIFF/WAVE file — any standard reader decodes it."""
    kd = hashlib.sha256(key.encode("utf-8")).digest()
    n_samples = 256 + int.from_bytes(kd[:2], "big") % 2048
    need = n_samples * 2
    stream = bytearray()
    counter = 0
    seed = text.encode("utf-8")
    while len(stream) < need:
        stream += hashlib.sha256(seed + counter.to_bytes(4, "big")).digest()
        counter += 1
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(bytes(stream[:need]))
    return buf.getvalue()


def _decode_pcm16(payload: bytes) -> tuple[int, list[int]]:
    """(sample_rate, samples) of a PCM16 WAV payload via the stdlib
    codec. Non-RIFF payloads raise NotImplementedError (MP3/OGG/FLAC
    need codecs this container lacks); RIFF with an unexpected layout
    raises ValueError from the wave module."""
    if bytes(payload[: len(RIFF_MAGIC)]) != RIFF_MAGIC:
        raise NotImplementedError(
            "only RIFF/WAVE decodes natively here; compressed audio "
            "codecs (MP3/OGG/FLAC) are not available in this environment"
        )
    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError(
                f"expected PCM16 mono, got width={w.getsampwidth()} "
                f"channels={w.getnchannels()}"
            )
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    return rate, list(struct.unpack(f"<{len(raw) // 2}h", raw))


def wav_features(payload: bytes) -> dict:
    """Integer-exact audio features of a PCM16 mono WAV:

    - ``duration_ms``     = n_samples * 1000 // sample_rate
    - ``rms_milli``       = isqrt(sum(s^2) * 10^6 // n) — RMS amplitude
                            in milli-units, pure integer arithmetic
                            (no float sqrt, so every engine agrees)
    - ``zero_crossings``  = sign changes between consecutive samples
                            (zero counts as non-negative)
    """
    import math

    rate, samples = _decode_pcm16(payload)
    n = len(samples)
    if n == 0:
        return {
            "sample_rate": rate, "n_samples": 0, "duration_ms": 0,
            "rms_milli": 0, "zero_crossings": 0,
        }
    energy = sum(s * s for s in samples)
    rms_milli = math.isqrt(energy * 1_000_000 // n)
    zc = sum(
        1
        for a, b in zip(samples, samples[1:])
        if (a >= 0) != (b >= 0)
    )
    return {
        "sample_rate": rate,
        "n_samples": n,
        "duration_ms": n * 1000 // rate,
        "rms_milli": rms_milli,
        "zero_crossings": zc,
    }


def resample_wav(payload: bytes, factor: int) -> bytes:
    """REAL downsample by integer decimation: keep every ``factor``-th
    sample, divide the declared rate accordingly (deterministic — no
    interpolation, the audio analogue of nearest-neighbor thumbnail)."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    rate, samples = _decode_pcm16(payload)
    out = samples[::factor]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(max(1, rate // factor))
        w.writeframes(struct.pack(f"<{len(out)}h", *out))
    return buf.getvalue()


# -- Spark faces (the row mapper of multimodal.py) ---------------------------


def wav_payload_df(df: DataFrame) -> DataFrame:
    """Render a deterministic WAV payload per ``(doc_id, text)`` row,
    DISTRIBUTED (the fabrication cost scales out like a real ingest's
    decode would). Output: the payload table (item_id,
    modality='audio', payload, meta)."""
    return render_payloads(df, "audio", "audio/wav", fake_wav)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Decode + featurize audio payloads. Expects (item_id, modality,
    payload); emits AUDIO_FEATURE_SCHEMA rows."""

    def extract(item_id, modality, payload):
        f = wav_features(payload)
        yield (
            item_id, modality, len(payload), f["sample_rate"], f["n_samples"],
            f["duration_ms"], f["rms_milli"], f["zero_crossings"],
            hashlib.sha1(payload).hexdigest(),
        )

    return map_rows(
        df.select("item_id", "modality", "payload"), extract, AUDIO_FEATURE_SCHEMA
    )


def resample_audio(df: DataFrame, factor: int) -> DataFrame:
    """Distributed decimation resample: payload -> smaller payload
    (``meta`` carries the new byte size)."""

    def resample(item_id, modality, payload):
        yield payload_row(item_id, modality, "audio/wav", resample_wav(payload, factor))

    return map_rows(df.select("item_id", "modality", "payload"), resample, PAYLOAD_DDL)
