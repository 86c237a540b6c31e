"""Baseline JPEG codec tests (grokspark/operators/jpeg.py).

Pure-Python suite (no Spark) except the one distributed-parity test at
the bottom. Coverage axes: bit-exact flat-block round trip, lossy
round-trip tolerance at quant=1, both subsampling layouts, restart
markers, single-component scans, loud rejection of progressive mode,
feature/luma agreement, and — where the box provides them —
cross-validation against third-party JPEGs produced by real encoders
(CPython/IPython test data; skipped when absent, so the suite stays
self-contained)."""

import os

import numpy as np
import pytest

from grokspark.operators.jpeg import (
    JPEG_MAGIC,
    JpegError,
    _decode_planes,
    decode_jpeg,
    encode_jpeg_baseline,
    fake_jpeg,
    jpeg_features,
)


def test_flat_gray_bit_exact():
    # DC-only blocks: FDCT DC = 8*(v-128) exactly, AC = 0 -> decode is
    # bit-exact, which pins the DCT scaling + huffman + dequant path
    for v in (0, 7, 128, 200, 255):
        data = encode_jpeg_baseline(16, 8, bytes([v]) * 128, channels=1)
        img = decode_jpeg(data)
        assert (img["width"], img["height"], img["channels"]) == (16, 8, 1)
        assert set(img["pixels"]) == {v}


def test_flat_rgb_decodes_flat():
    data = encode_jpeg_baseline(8, 8, bytes([10, 200, 60]) * 64, channels=3)
    px = np.array(decode_jpeg(data)["pixels"]).reshape(8, 8, 3)
    assert (px == px[0, 0]).all()
    # YCbCr round trip of a flat color is within 1 count per channel
    assert np.abs(px[0, 0] - np.array([10, 200, 60])).max() <= 1


def test_random_rgb_round_trip_quant1():
    rng = np.random.default_rng(42)
    for w, h in [(8, 8), (11, 5), (24, 17)]:
        pix = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        img = decode_jpeg(encode_jpeg_baseline(w, h, pix, channels=3))
        got = np.array(img["pixels"], dtype=np.int64)
        want = np.frombuffer(pix, dtype=np.uint8).astype(np.int64)
        # quant=1: error is float YCbCr+DCT rounding only
        assert np.abs(got - want).max() <= 4


def test_subsample_420_and_odd_dims():
    rng = np.random.default_rng(7)
    pix = rng.integers(0, 256, size=21 * 13 * 3, dtype=np.uint8).tobytes()
    data = encode_jpeg_baseline(21, 13, pix, channels=3, subsample_420=True)
    d = _decode_planes(data)
    assert d["sampling"] == [(2, 2), (1, 1), (1, 1)]
    # chroma planes are ceil(21/2) x ceil(13/2)
    assert d["planes"][1].shape == (7, 11)
    img = decode_jpeg(data)
    assert (img["width"], img["height"]) == (21, 13)
    # Y plane is NOT subsampled: luma matches the 4:4:4 encode of the
    # same pixels exactly (chroma layout must not disturb luma)
    f420 = jpeg_features(data)
    f444 = jpeg_features(encode_jpeg_baseline(21, 13, pix, channels=3))
    assert f420["luma_milli"] == f444["luma_milli"]


def test_restart_markers():
    rng = np.random.default_rng(3)
    pix = rng.integers(0, 256, size=64 * 24 * 3, dtype=np.uint8).tobytes()
    plain = encode_jpeg_baseline(64, 24, pix, channels=3)
    rst = encode_jpeg_baseline(64, 24, pix, channels=3, restart_interval=2)
    assert any(bytes([0xFF, 0xD0 + i]) in rst for i in range(8))
    # restart segmentation is a framing detail: decoded pixels identical
    assert decode_jpeg(rst)["pixels"] == decode_jpeg(plain)["pixels"]


def test_progressive_rejected_loudly():
    data = encode_jpeg_baseline(8, 8, bytes(64), channels=1)
    # rewrite the SOF0 marker (FFC0) to SOF2 (progressive)
    i = data.index(b"\xff\xc0")
    broken = data[:i] + b"\xff\xc2" + data[i + 2 :]
    with pytest.raises(NotImplementedError, match="SOF2"):
        decode_jpeg(broken)


def test_truncated_scan_raises():
    data = encode_jpeg_baseline(32, 32, bytes(range(256)) * 4, channels=1)
    with pytest.raises(JpegError):
        decode_jpeg(data[: len(data) // 2])


def test_features_match_decode_luma_gray():
    g = encode_jpeg_baseline(9, 7, bytes(range(63)), channels=1)
    f, img = jpeg_features(g), decode_jpeg(g)
    assert f["luma_milli"] == 1000 * sum(img["pixels"])
    assert f["mean_luma"] == pytest.approx(sum(img["pixels"]) / 63)


def test_fake_jpeg_deterministic():
    a = fake_jpeg("doc-1", "hello")
    assert a == fake_jpeg("doc-1", "hello")
    assert a[:3] == JPEG_MAGIC
    assert fake_jpeg("doc-2", "hello") != a
    assert fake_jpeg("doc-1", "other") != a


# third-party JPEGs on this box (CPython / IPython / rust-doc test
# data) — produced by real encoders (libjpeg), so they cross-validate
# marker parsing, huffman desync, sampling layouts, and restart
# handling against an independent implementation
_THIRD_PARTY = [
    p
    for p in [
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/site-packages/IPython/core/tests/2x2.jpg",
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/test/imghdrdata/python.jpg",
        "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/doc/rust/html/embedded-book/assets/verify.jpeg",
    ]
    if os.path.exists(p)
]


@pytest.mark.skipif(not _THIRD_PARTY, reason="no third-party JPEGs on this box")
def test_third_party_jpegs_decode():
    for p in _THIRD_PARTY:
        with open(p, "rb") as fh:
            data = fh.read()
        f = jpeg_features(data)
        assert f["width"] > 0 and f["height"] > 0
        assert 0.0 <= f["mean_luma"] <= 255.0
        # a huffman desync throws long before the scan completes; a
        # clean full-scan decode of a foreign payload is the check
        img = decode_jpeg(data)
        assert len(img["pixels"]) == f["width"] * f["height"] * img["channels"]


def test_jpeg_decode_distributed_matches_pure_python(spark):
    """mapInPandas JPEG feature extraction == single-process twin,
    per row (the gate query asserts the aggregate; this pins rows)."""
    from grokspark.operators.multimodal import (
        extract_image_features,
        jpeg_payload_df,
    )

    import hashlib

    rows = [(f"d{i}", f"payload text {i} " * 3) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["item_id"]: r
        for r in extract_image_features(jpeg_payload_df(df)).collect()
    }
    assert len(got) == 40
    for doc_id, text in rows:
        sub = hashlib.sha256(doc_id.encode()).digest()[2] % 2 == 0
        payload = fake_jpeg(doc_id, text, subsample_420=sub)
        want = jpeg_features(payload)
        have = got[doc_id]
        assert (have["width"], have["height"]) == (want["width"], want["height"])
        assert have["luma_milli"] == want["luma_milli"]
        assert have["sha1"] == hashlib.sha1(payload).hexdigest()
