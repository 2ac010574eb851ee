"""Dependency-free PNG and GIF codecs (stdlib ``zlib`` + pure numpy).

Closes the PNG/GIF decode-parity gap with the reference, whose image
registry is Go's stdlib ``image/png`` + ``image/gif`` (+ jpeg — see
functions/jpeg.py — and webp — see functions/webp.py for the lossless
VP8L profile; only lossy VP8 stays
gated): perceptual.go:4-14 registers the decoders, ``isImageFile``
perceptual.go:434-442 gates on the extensions.

PNG (RFC 2083):
* chunk walk (IHDR / PLTE / IDAT / IEND), CRCs ignored on decode
  (zlib's adler32 on the IDAT stream still catches corruption);
* bit depths 1/2/4/8/16, color types gray(0) / RGB(2) / palette(3) /
  gray+alpha(4) / RGBA(6);
* all 5 scanline filters; Sub is vectorized with a wrapping uint8
  ``add.accumulate`` per byte-phase, Up is a plain vectorized add,
  Average/Paeth fall back to a per-pixel loop (sequential by definition);
* Adam7 interlace supported (7 sub-images, each unfiltered independently);
* alpha is dropped (not composited): the perceptual pipeline hashes
  luminance and the reference's grayscale also reads RGB off the decoded
  pixels; 16-bit samples take the high byte (Go's image.Decode keeps 16-bit
  precision, but every consumer here quantizes to uint8 immediately).

GIF (87a/89a): logical screen + global/local color tables, variable-width
LZW decompression, interlaced rasters, first frame only (Go's
``gif.Decode`` also returns the first frame). Transparency index is
ignored for the same reason alpha is dropped above.

The encoders exist for the test suite (roundtrip + filter coverage), kept
minimal on purpose: PNG writes filter-0 scanlines, GIF writes literal LZW
codes with a Clear before the table would outgrow 12 bits.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# samples per pixel by color type
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass layout: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, w: int, h: int, bpp_bytes: int, row_bytes: int) -> np.ndarray:
    """Reverse the per-scanline filters → (h, row_bytes) uint8.

    ``bpp_bytes`` is the filter-unit stride (max(1, bits_per_pixel // 8),
    per the spec: sub-byte depths filter at byte granularity).
    """
    out = np.zeros((h, row_bytes), dtype=np.uint8)
    stride = row_bytes + 1
    if len(raw) < stride * h:
        raise ValueError("PNG: truncated raster")
    for y in range(h):
        ft = raw[y * stride]
        line = np.frombuffer(raw, dtype=np.uint8, count=row_bytes,
                             offset=y * stride + 1)
        prev = out[y - 1] if y > 0 else np.zeros(row_bytes, dtype=np.uint8)
        if ft == 0:          # None
            out[y] = line
        elif ft == 1:        # Sub: out[x] = line[x] + out[x-bpp]
            cur = line.copy()
            for ph in range(bpp_bytes):
                np.add.accumulate(cur[ph::bpp_bytes], out=cur[ph::bpp_bytes])
            out[y] = cur
        elif ft == 2:        # Up
            out[y] = line + prev
        elif ft == 3:        # Average (needs the just-reconstructed left)
            cur = out[y]
            for x in range(row_bytes):
                left = int(cur[x - bpp_bytes]) if x >= bpp_bytes else 0
                cur[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ft == 4:        # Paeth
            cur = out[y]
            for x in range(row_bytes):
                left = int(cur[x - bpp_bytes]) if x >= bpp_bytes else 0
                ul = int(prev[x - bpp_bytes]) if x >= bpp_bytes else 0
                cur[x] = (int(line[x]) + _paeth(left, int(prev[x]), ul)) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ft}")
    return out


def _unpack_samples(rows: np.ndarray, w: int, depth: int, channels: int) -> np.ndarray:
    """(h, row_bytes) filtered-out bytes → (h, w, channels) uint8 samples.
    Sub-byte depths are MSB-first bit fields scaled to 0..255 (except for
    palette images, whose indexes must NOT be scaled — caller handles)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * channels].reshape(h, w, channels)
    if depth == 16:
        return rows[:, : w * channels * 2].reshape(h, w, channels, 2)[..., 0]
    # 1/2/4-bit: unpack bits then regroup
    bits = np.unpackbits(rows, axis=1)
    per = bits[:, : w * channels * depth].reshape(h, w * channels, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    vals = (per * weights).sum(axis=2).astype(np.uint8)
    return vals.reshape(h, w, channels)


def _scale_depth(vals: np.ndarray, depth: int) -> np.ndarray:
    """Scale sub-byte sample values to full 0..255 range (spec: replicate)."""
    if depth == 8 or depth == 16:
        return vals
    maxv = (1 << depth) - 1
    return (vals.astype(np.uint16) * 255 // maxv).astype(np.uint8)


def png_decode(buf: bytes) -> np.ndarray:
    """PNG → (H, W, 3) uint8 RGB. See module docstring for coverage.

    Every malformed-payload failure mode surfaces as ValueError — the
    contract callers rely on for null-signature / ok=false degradation
    (same wrapper jpeg.py and webp.py carry); a truncated IDAT otherwise leaks
    zlib.error, a short header struct.error."""
    try:
        return _png_decode(buf)
    except (IndexError, struct.error, zlib.error, OverflowError) as e:
        raise ValueError(f"corrupt PNG: {type(e).__name__}") from e


def _png_decode(buf: bytes) -> np.ndarray:
    buf = bytes(buf)
    if buf[:8] != PNG_MAGIC:
        raise ValueError("not a PNG buffer")
    pos = 8
    ihdr = None
    palette = None
    idat = bytearray()
    n = len(buf)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4:pos + 8]
        data = buf[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG: missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("PNG: unsupported compression/filter method")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"PNG: unsupported color type {color}")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"PNG: unsupported bit depth {depth}")
    if w == 0 or h == 0:
        raise ValueError("PNG: empty image")
    channels = _PNG_CHANNELS[color]
    raw = zlib.decompress(bytes(idat))
    bpp_bits = depth * channels
    bpp_bytes = max(1, bpp_bits // 8)

    def decode_region(data: bytes, rw: int, rh: int) -> np.ndarray:
        row_bytes = (rw * bpp_bits + 7) // 8
        rows = _unfilter(data, rw, rh, bpp_bytes, row_bytes)
        return _unpack_samples(rows, rw, depth, channels), row_bytes

    if interlace == 0:
        samples, _ = decode_region(raw, w, h)
    elif interlace == 1:  # Adam7
        samples = np.zeros((h, w, channels), dtype=np.uint8)
        off = 0
        for (x0, y0, dx, dy) in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            row_bytes = (pw * bpp_bits + 7) // 8
            need = (row_bytes + 1) * ph
            sub, _ = decode_region(raw[off:off + need], pw, ph)
            samples[y0::dy, x0::dx] = sub
            off += need
    else:
        raise ValueError(f"PNG: unknown interlace method {interlace}")

    if color == 3:  # palette: indexes, never scaled
        if palette is None:
            raise ValueError("PNG: palette image without PLTE")
        idx = samples[:, :, 0]
        if int(idx.max(initial=0)) >= palette.shape[0]:
            raise ValueError("PNG: palette index out of range")
        return palette[idx].copy()
    samples = _scale_depth(samples, depth)
    if color == 0:
        return np.repeat(samples, 3, axis=2)
    if color == 2:
        return samples.copy()
    if color == 4:  # gray + alpha → drop alpha
        return np.repeat(samples[:, :, :1], 3, axis=2)
    return samples[:, :, :3].copy()  # RGBA → drop alpha


def png_encode(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → minimal non-interlaced PNG (filter 0 rows)."""
    a = np.ascontiguousarray(np.asarray(img, dtype=np.uint8))
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("png_encode expects (H, W, 3) uint8")
    h, w = a.shape[:2]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# GIF
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> np.ndarray:
    """GIF variable-width LZW → uint8 index array of ``expected`` pixels."""
    clear = 1 << min_code_size
    end = clear + 1
    out = np.empty(expected, dtype=np.uint8)
    n_out = 0

    # bit reader (LSB-first)
    acc = 0
    acc_bits = 0
    pos = 0
    nd = len(data)

    def reset_table():
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    table = reset_table()
    width = min_code_size + 1
    prev: bytes | None = None
    while n_out < expected:
        while acc_bits < width:
            if pos >= nd:
                raise ValueError("GIF: LZW stream truncated")
            acc |= data[pos] << acc_bits
            acc_bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        acc_bits -= width
        if code == clear:
            table = reset_table()
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF: invalid LZW code")
        take = min(len(entry), expected - n_out)
        out[n_out:n_out + take] = np.frombuffer(entry[:take], dtype=np.uint8)
        n_out += take
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if n_out < expected:
        raise ValueError("GIF: short pixel data")
    return out


def gif_decode(buf: bytes) -> np.ndarray:
    """GIF87a/89a → first frame as (H, W, 3) uint8 RGB.

    Malformed payloads surface as ValueError (null-signature / ok=false
    degradation contract), never a raw IndexError from the LZW walk."""
    try:
        return _gif_decode(buf)
    except (IndexError, struct.error, OverflowError) as e:
        raise ValueError(f"corrupt GIF: {type(e).__name__}") from e


def _gif_decode(buf: bytes) -> np.ndarray:
    buf = bytes(buf)
    if buf[:4] != b"GIF8" or buf[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF buffer")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        gct = np.frombuffer(buf, dtype=np.uint8, count=size * 3,
                            offset=pos).reshape(size, 3)
        pos += size * 3
    n = len(buf)
    while pos < n:
        b0 = buf[pos]
        pos += 1
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < n and buf[pos] != 0:
                pos += 1 + buf[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            _ix, _iy, iw, ih, iflags = struct.unpack_from("<HHHHB", buf, pos)
            pos += 9
            table = gct
            if iflags & 0x80:
                size = 2 << (iflags & 0x07)
                table = np.frombuffer(buf, dtype=np.uint8, count=size * 3,
                                      offset=pos).reshape(size, 3)
                pos += size * 3
            if table is None:
                raise ValueError("GIF: no color table")
            min_code = buf[pos]
            pos += 1
            chunks = []
            while pos < n and buf[pos] != 0:
                ln = buf[pos]
                chunks.append(buf[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(b"".join(chunks), min_code, iw * ih).reshape(ih, iw)
            if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
                deinter = np.empty_like(idx)
                order = np.concatenate([np.arange(0, ih, 8), np.arange(4, ih, 8),
                                        np.arange(2, ih, 4), np.arange(1, ih, 2)])
                deinter[order] = idx
                idx = deinter
            if int(idx.max(initial=0)) >= table.shape[0]:
                raise ValueError("GIF: color index out of range")
            return table[idx].copy()
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"GIF: unknown block 0x{b0:02x}")
    raise ValueError("GIF: no image data")


def gif_encode(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → single-frame GIF89a.

    Quantization-free: requires ≤ 256 distinct colors (test fixtures do).
    LZW output is literal codes with a Clear whenever the decoder's table
    would reach 12-bit capacity — valid, merely uncompressed.
    """
    a = np.ascontiguousarray(np.asarray(img, dtype=np.uint8))
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("gif_encode expects (H, W, 3) uint8")
    h, w = a.shape[:2]
    flat = a.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if colors.shape[0] > 256:
        raise ValueError("gif_encode: more than 256 distinct colors")
    depth = max(2, int(np.ceil(np.log2(max(2, colors.shape[0])))))
    table_size = 1 << depth
    palette = np.zeros((table_size, 3), dtype=np.uint8)
    palette[: colors.shape[0]] = colors

    min_code = depth
    clear = 1 << min_code
    end = clear + 1

    bits = bytearray()
    acc = 0
    acc_bits = 0
    width = min_code + 1

    def emit(code: int):
        nonlocal acc, acc_bits
        acc |= code << acc_bits
        acc_bits += width
        while acc_bits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            acc_bits -= 8

    emit(clear)
    next_code = end + 1
    first = True  # the decoder does NOT grow its table on the first
    for v in idx:  # code after a Clear — mirror that exactly, or the
        emit(int(v))  # code widths desynchronize
        if first:
            first = False
            continue
        next_code += 1
        if next_code == (1 << width):
            if width < 12:
                width += 1
            else:
                emit(clear)
                next_code = end + 1
                first = True
                width = min_code + 1
    emit(end)
    if acc_bits:
        bits.append(acc & 0xFF)

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | ((depth - 1) & 0x07), 0, 0)
    out += palette.tobytes()
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(min_code)
    data = bytes(bits)
    for i in range(0, len(data), 255):
        block = data[i:i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3B"
    return bytes(out)
