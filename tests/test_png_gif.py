"""PNG/GIF codec tests (round-4): roundtrips, filter/interlace/depth
coverage, LZW width growth and decode-dispatch integration.

The encoders under test are the repo's own minimal writers, so roundtrips
alone can't catch a shared bias; the filter-coverage and Adam7 cases
therefore build the compressed byte streams BY HAND from the spec and
check exact pixel recovery.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from file_deduplicator_spark.functions import image as im
from file_deduplicator_spark.functions.png_gif import (
    PNG_MAGIC,
    gif_decode,
    gif_encode,
    png_decode,
    png_encode,
)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png(w, h, depth, color, raw, extra=b"", interlace=0):
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace))
        + extra
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def test_png_roundtrip_rgb():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(23, 31, 3), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(img)), img)


def test_png_all_filters_hand_built():
    """One scanline per filter type (Sub/Up/Average/Paeth), deltas computed
    from the spec's reconstruction equations run in reverse."""
    rng = np.random.RandomState(3)
    w, h = 6, 4
    pix = rng.randint(0, 256, size=(h, w * 3), dtype=np.uint8)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.uint8)
    for y, ft in enumerate([1, 2, 3, 4]):
        cur = pix[y]
        line = np.zeros(w * 3, dtype=np.uint8)
        for x in range(w * 3):
            left = int(cur[x - 3]) if x >= 3 else 0
            up, ul = int(prev[x]), (int(prev[x - 3]) if x >= 3 else 0)
            pred = {1: left, 2: up, 3: (left + up) >> 1, 4: paeth(left, up, ul)}[ft]
            line[x] = (int(cur[x]) - pred) & 0xFF
        raw.append(ft)
        raw += line.tobytes()
        prev = cur
    out = png_decode(_png(w, h, 8, 2, bytes(raw)))
    assert np.array_equal(out, pix.reshape(h, w, 3))


def test_png_gray_palette_rgba_16bit():
    rng = np.random.RandomState(11)
    # 8-bit grayscale replicates to 3 channels
    gray = rng.randint(0, 256, size=(9, 7), dtype=np.uint8)
    raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(9))
    d = png_decode(_png(7, 9, 8, 0, raw))
    assert d.shape == (9, 7, 3) and np.array_equal(d[:, :, 1], gray)

    # 4-bit palette: indexes packed two per byte, MSB first, never scaled
    plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    pidx = rng.randint(0, 16, size=(6, 10)).astype(np.uint8)
    packed = (pidx[:, 0::2] << 4) | pidx[:, 1::2]
    raw = b"".join(b"\x00" + packed[y].tobytes() for y in range(6))
    d = png_decode(_png(10, 6, 4, 3, raw, extra=_chunk(b"PLTE", plte.tobytes())))
    assert np.array_equal(d, plte[pidx])

    # RGBA drops alpha
    rgba = rng.randint(0, 256, size=(5, 5, 4), dtype=np.uint8)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(5))
    assert np.array_equal(png_decode(_png(5, 5, 8, 6, raw)), rgba[:, :, :3])

    # 16-bit RGB keeps the high byte
    r16 = rng.randint(0, 65536, size=(4, 6, 3), dtype=np.uint16)
    raw = b"".join(b"\x00" + r16[y].astype(">u2").tobytes() for y in range(4))
    assert np.array_equal(png_decode(_png(6, 4, 16, 2, raw)), (r16 >> 8).astype(np.uint8))


def test_png_adam7_interlaced():
    rng = np.random.RandomState(5)
    w = h = 9  # exercises every pass incl. the degenerate tail rows
    src = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    raw = bytearray()
    for (x0, y0, dx, dy) in passes:
        sub = src[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for y in range(sub.shape[0]):
            raw.append(0)
            raw += sub[y].tobytes()
    assert np.array_equal(png_decode(_png(w, h, 8, 2, bytes(raw), interlace=1)), src)


def test_png_rejects_garbage_and_truncation():
    with pytest.raises(ValueError):
        png_decode(b"\x89PNG\r\n\x1a\x00garbage")
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    whole = png_encode(img)
    with pytest.raises(Exception):
        png_decode(whole[: len(whole) // 2])


def test_gif_roundtrip_small_and_256_colors():
    rng = np.random.RandomState(13)
    pal = rng.randint(0, 256, size=(17, 3), dtype=np.uint8)
    img = pal[rng.randint(0, 17, size=(19, 23))]
    assert np.array_equal(gif_decode(gif_encode(img)), img)

    # 256 colors × 12k pixels forces LZW code-width growth to 12 bits and
    # at least one mid-stream Clear — the desync-prone paths
    pal2 = np.arange(256, dtype=np.uint8)[:, None].repeat(3, axis=1)
    img2 = pal2[rng.randint(0, 256, size=(120, 100))]
    assert np.array_equal(gif_decode(gif_encode(img2)), img2)


def test_gif_interlaced():
    """Interlaced rasters store rows in 4-pass order; build one by hand."""
    rng = np.random.RandomState(17)
    pal = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.randint(0, 4, size=(11, 5)).astype(np.uint8)
    plain = gif_encode(pal[idx])
    # rewrite the encoded stream: reorder rows into interlace order and set
    # the interlace flag in the image descriptor
    h, w = idx.shape
    order = np.concatenate([np.arange(0, h, 8), np.arange(4, h, 8),
                            np.arange(2, h, 4), np.arange(1, h, 2)])
    inter = gif_encode(pal[idx[order]])  # same palette: colors identical
    # image descriptor starts after 13-byte header + 3*table bytes; find 0x2C
    pos = inter.index(b"\x2C", 13)
    flags_off = pos + 9
    patched = inter[:flags_off] + bytes([inter[flags_off] | 0x40]) + inter[flags_off + 1:]
    assert np.array_equal(gif_decode(patched), pal[idx])


def test_image_decode_dispatch_png_gif():
    """image_decode sniffs PNG/GIF magics and the full perceptual chain
    produces REAL signatures for both — same hash as the
    identical pixels via PPM."""
    rng = np.random.RandomState(23)
    img = rng.randint(0, 256, size=(48, 64, 3), dtype=np.uint8)
    ref = im.image_sig_from_bytes(im.ppm_encode(img), "phash")
    assert im.image_sig_from_bytes(png_encode(img), "phash") == ref
    pal = rng.randint(0, 256, size=(256, 3), dtype=np.uint8)
    gimg = pal[rng.randint(0, 256, size=(48, 64))]
    ref_g = im.image_sig_from_bytes(im.ppm_encode(gimg), "dhash")
    assert im.image_sig_from_bytes(gif_encode(gimg), "dhash") == ref_g


def test_multimodal_decode_real_png_gif():
    rng = np.random.RandomState(29)
    img = rng.randint(0, 256, size=(20, 20, 3), dtype=np.uint8)
    assert np.array_equal(im.image_decode(png_encode(img)), img)
    pal = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    gimg = pal[rng.randint(0, 8, size=(20, 20))]
    assert np.array_equal(im.image_decode(gif_encode(gimg)), gimg)

