"""Baseline JPEG codec tests (round-4): roundtrips across color/gray,
4:4:4 vs 4:2:0, odd dimensions, restart markers, the entropy layer at
quality 100, honest progressive rejection, and decode-dispatch / perceptual
integration.

The encoder under test is the repo's own minimal writer, so pure roundtrips
can't catch a shared spec misreading; the structural cases therefore also
assert on the emitted marker stream (DRI/RSTn present, SOF0 sampling
factors) and the quality-100 case bounds reconstruction error by the
quantizer's own arithmetic, independent of any decoder/encoder symmetry.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from file_deduplicator_spark.functions import image as im
from file_deduplicator_spark.functions.jpeg import (
    jpeg_decode,
    jpeg_encode,
    jpeg_encode_progressive,
)


def _smooth(h, w, seed=7):
    """Low-frequency synthetic image (JPEG-friendly: bounded quant error)."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    rng = np.random.RandomState(seed)
    a, b, c = rng.uniform(0.02, 0.09, 3)
    img = np.stack(
        [
            128
            + 100 * np.sin(a * xx + i) * np.cos(b * yy - i)
            + 20 * np.sin(c * (xx + yy))
            for i in range(3)
        ],
        axis=2,
    )
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def test_roundtrip_444_smooth():
    img = _smooth(40, 56)
    out = jpeg_decode(jpeg_encode(img, quality=95))
    assert out.shape == img.shape
    diff = np.abs(out.astype(int) - img.astype(int))
    assert diff.mean() < 3 and diff.max() <= 24


def test_roundtrip_quality100_noise_bounded_by_quantizer():
    # q=100 clamps every quant step to 1: reconstruction error is bounded by
    # coefficient rounding alone, even on incompressible noise.
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(24, 24, 3), dtype=np.uint8)
    out = jpeg_decode(jpeg_encode(img, quality=100))
    diff = np.abs(out.astype(int) - img.astype(int))
    # chroma carries the YCbCr forward/inverse rounding too
    assert diff.mean() < 2 and diff.max() <= 8


def test_roundtrip_grayscale():
    g = _smooth(17, 23, seed=13)[:, :, 0]
    out = jpeg_decode(jpeg_encode(g, quality=100))
    assert out.shape == (17, 23, 3)
    assert np.array_equal(out[:, :, 0], out[:, :, 1])  # replicated channels
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 4


def test_roundtrip_420_subsampled_odd_dims():
    img = _smooth(21, 35, seed=17)
    buf = jpeg_encode(img, quality=92, subsample=True)
    # SOF0 sampling factors: luma 2x2, chroma 1x1
    sof = buf.index(b"\xff\xc0")
    ncomp = buf[sof + 9]
    assert ncomp == 3
    assert buf[sof + 11] == 0x22 and buf[sof + 14] == 0x11
    out = jpeg_decode(buf)
    assert out.shape == img.shape
    diff = np.abs(out.astype(int) - img.astype(int))
    # chroma is 2x2-averaged then nearest-upsampled (Go's image/jpeg also
    # replicates, no interpolation) — gradients pay ~half-pixel chroma error
    assert diff.mean() < 8 and diff.max() <= 48


def test_restart_markers_roundtrip_and_stream_structure():
    img = _smooth(48, 48, seed=19)
    plain = jpeg_encode(img, quality=95)
    rst = jpeg_encode(img, quality=95, restart_interval=2)
    # DRI segment present with interval 2, and RST0/RST1 markers in the scan
    i = rst.index(b"\xff\xdd")
    assert struct.unpack(">H", rst[i + 4:i + 6]) == (2,)
    assert b"\xff\xd0" in rst and b"\xff\xd1" in rst
    assert b"\xff\xdd" not in plain
    assert np.array_equal(jpeg_decode(rst), jpeg_decode(plain))


def test_malformed_streams_rejected():
    img = _smooth(16, 16)
    buf = bytearray(jpeg_encode(img))
    sof = bytes(buf).index(b"\xff\xc0")
    buf[sof + 1] = 0xC2  # SOF2 + a baseline SOS (Ss=0, Se=63) is malformed:
    with pytest.raises(ValueError, match="spectral"):
        jpeg_decode(bytes(buf))  # progressive DC scans are exactly Ss=Se=0
    buf[sof + 1] = 0xC7  # lossless/hierarchical processes stay gated
    with pytest.raises(ValueError, match="coding process"):
        jpeg_decode(bytes(buf))
    with pytest.raises(ValueError):
        jpeg_decode(b"\x00\x01\x02")
    with pytest.raises(ValueError):
        jpeg_decode(b"\xff\xd8\xff\xd9")  # SOI+EOI, no scan


def test_16bit_quant_table_precision():
    # rewrite the encoder's 8-bit DQT as a Pq=1 (16-bit) table: decoded
    # pixels must be identical — same values, wider encoding.
    img = _smooth(16, 16, seed=23)
    buf = jpeg_encode(img, quality=90)
    i = buf.index(b"\xff\xdb")
    (seglen,) = struct.unpack(">H", buf[i + 2:i + 4])
    assert seglen == 67 and buf[i + 4] == 0x00  # Pq=0, Tq=0
    vals = buf[i + 5:i + 5 + 64]
    # old segment spans [i, i+2+67); splice a Pq=1 version in its place
    wide = (
        buf[:i]
        + b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128) + b"\x10"
        + b"".join(struct.pack(">H", v) for v in vals)
        + buf[i + 2 + 67:]
    )
    assert np.array_equal(jpeg_decode(wide), jpeg_decode(buf))


def test_progressive_decodes_identical_to_baseline():
    """Progressive re-orders the SAME quantized coefficients across scans
    (DC successive approximation, per-component AC bands with EOBn runs,
    DC + AC refinement) — decoding must be bit-identical to the baseline
    encoding of the same image. Covers interleaved + non-interleaved
    iteration, subsampled grids, and every Annex G scan kind."""
    cases = [
        ("color", _smooth(40, 56), {}),
        ("noise", np.random.RandomState(1).randint(
            0, 256, (24, 24, 3), dtype=np.uint8), {}),
        ("gray", _smooth(17, 23, seed=5)[:, :, 0], {}),
        ("420-odd", _smooth(21, 35, seed=9), {"subsample": True}),
    ]
    for name, img, kw in cases:
        base = jpeg_decode(jpeg_encode(img, quality=85, **kw))
        prog_buf = jpeg_encode_progressive(img, quality=85, **kw)
        assert b"\xff\xc2" in prog_buf  # really SOF2
        assert np.array_equal(jpeg_decode(prog_buf), base), name


def test_progressive_corruption_fuzz():
    img = _smooth(24, 24, seed=3)
    buf = jpeg_encode_progressive(img, quality=85)
    rng = np.random.RandomState(77)
    for _ in range(300):
        b = bytearray(buf)
        for _ in range(rng.randint(1, 5)):
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
        try:
            jpeg_decode(bytes(b))
        except ValueError:
            pass


def test_corruption_fuzz_exception_contract():
    """Every malformed payload must surface as ValueError (the ok=false
    degradation contract, main.go:666-674) — found OverflowError (corrupt
    DHT DC category) and KeyError (undefined table ref in SOS) live."""
    img = np.arange(24 * 24 * 3, dtype=np.uint8).reshape(24, 24, 3)
    buf = jpeg_encode(img, quality=90, restart_interval=3)
    for cut in range(2, len(buf), 11):  # truncation sweep
        try:
            jpeg_decode(buf[:cut])
        except ValueError:
            pass
    rng = np.random.RandomState(42)
    for _ in range(400):  # byte-corruption sweep
        b = bytearray(buf)
        for _ in range(rng.randint(1, 5)):
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
        try:
            jpeg_decode(bytes(b))
        except ValueError:
            pass


def test_image_decode_dispatch_and_perceptual_chain():
    """image_decode sniffs FFD8 and the full perceptual chain produces REAL
    signatures close to the lossless-PPM signature of the same pixels."""
    img = _smooth(64, 64, seed=29)
    ref = im.image_sig_from_bytes(im.ppm_encode(img), "phash")
    sig = im.image_sig_from_bytes(jpeg_encode(img, quality=95), "phash")
    assert sig is not None
    assert bin(sig ^ ref).count("1") <= 6  # q95 is perceptually identical


def test_multimodal_decode_real_jpeg():
    img = _smooth(20, 20, seed=31)
    out = im.image_decode(jpeg_encode(img, quality=100))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 8
