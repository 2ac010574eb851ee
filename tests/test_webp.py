"""VP8L (lossless WebP) codec tests (round-4): exact roundtrips through
every bitstream feature — literals, LZ77 (2-D-mapped and plain distances),
color cache, meta-prefix groups, all four transforms and their chaining,
sub-byte palette packing — plus direct unit tests of the pieces the
minimal encoder can't reach (all 14 predictor modes, repeat/max_symbol
code-length forms, 2-symbol simple codes), container handling (VP8X skip,
lossy VP8 rejection) and a corruption fuzz for the ValueError contract.

Lossless means roundtrips assert EXACT pixel equality, so a shared
encoder/decoder bias in the entropy layer can't hide; the transform tests
additionally pin known forward/inverse pairs (e.g. the color transform
deltas) by construction.
"""

from __future__ import annotations

import numpy as np
import pytest

from file_deduplicator_spark.functions import image as im
from file_deduplicator_spark.functions.webp import (
    _canonical,
    _Code,
    _distance_map,
    _inverse_predictor,
    _LsbReader,
    _LsbWriter,
    _pack,
    _chans,
    _predict,
    _prefix_encode,
    _prefix_value,
    _read_code,
    webp_decode,
    webp_encode_lossless,
)


def _img(h, w, seed=3):
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)


def test_roundtrips_all_entropy_features():
    img = _img(23, 31)
    for kw in [
        {},
        {"use_lz77": True},
        {"use_lz77": True, "dist_via_map": False},
        {"cache_bits": 4},
        {"cache_bits": 8, "use_lz77": True},
        {"meta_bits": 3},
        {"meta_bits": 2, "use_lz77": True, "cache_bits": 3},
    ]:
        out = webp_decode(webp_encode_lossless(img, **kw))
        assert np.array_equal(out, img), kw


def test_roundtrips_transforms_and_chaining():
    img = _img(23, 31, seed=5)
    for tr in [
        (("subgreen",),),
        (("pred_t", 3),),
        (("color", 3, 5, 250, 17),),
        (("subgreen",), ("pred_t", 2)),
        (("color", 2, 129, 3, 200), ("subgreen",), ("pred_t", 4)),
    ]:
        out = webp_decode(webp_encode_lossless(img, transforms=tr,
                                               use_lz77=True))
        assert np.array_equal(out, img), tr


def test_palette_all_packings():
    rng = np.random.RandomState(11)
    for n_colors, shape in [(2, (9, 17)), (4, (10, 11)), (16, (12, 13)),
                            (17, (8, 9)), (256, (40, 40))]:
        pal = rng.randint(0, 256, (n_colors, 3), dtype=np.uint8)
        # ensure all colors present so the palette really has n entries
        idx = np.arange(shape[0] * shape[1]) % n_colors
        rng.shuffle(idx)
        pimg = pal[idx.reshape(shape)]
        out = webp_decode(webp_encode_lossless(pimg, transforms=(("palette",),)))
        assert np.array_equal(out, pimg), n_colors


def test_all_predictor_modes_invert():
    """The minimal encoder only emits mode 2; validate all 14 inverse
    predictors against a generic forward (residual = pixel - prediction
    from ORIGINAL neighbors, which equal the reconstructed ones)."""
    rng = np.random.RandomState(7)
    h, w, bits = 13, 17, 2
    orig = [int(p) for p in
            (0xFF000000 + rng.randint(0, 1 << 24, h * w).astype(np.uint64))]
    for mode in range(14):
        res = [0] * (h * w)
        for pos in range(h * w):
            x, y = pos % w, pos // w
            if pos == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = orig[pos - 1]
            elif x == 0:
                pred = orig[pos - w]
            else:
                pred = _predict(mode, orig[pos - 1], orig[pos - w],
                                orig[pos - w - 1], orig[pos - w + 1])
            res[pos] = _pack([(a - b) & 0xFF for a, b in
                              zip(_chans(orig[pos]), _chans(pred))])
        tiles = np.full((-(-h // (1 << bits)), -(-w // (1 << bits))),
                        0xFF000000 | (mode << 8), dtype=np.uint32)
        rec = _inverse_predictor(
            np.array(res, dtype=np.uint32).reshape(h, w), bits, tiles)
        assert rec.ravel().tolist() == orig, f"mode {mode}"


def test_prefix_value_encode_decode_inverse():
    for v in [1, 2, 3, 4, 5, 6, 7, 8, 13, 64, 127, 1024, 99999]:
        code, extra_val, extra = _prefix_encode(v)
        w = _LsbWriter()
        w.write(extra_val, extra)
        br = _LsbReader(w.flush() or b"\x00")
        assert _prefix_value(br, code) == v


def test_distance_map_spec_head_and_shape():
    m = _distance_map()
    assert len(m) == 120 and len(set(m)) == 120
    # the spec's published list opens with these entries
    assert m[:12] == [(0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
                      (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2)]
    assert all(dy >= 0 and (dy > 0 or dx > 0) and abs(dx) <= 8 and dy <= 8
               for dx, dy in m)


def test_code_length_repeats_and_max_symbol():
    """Hand-built 'normal' code using 17 (zero repeat), 16 (prev repeat)
    and the max_symbol shortcut — paths the flat-code writer never emits."""
    w = _LsbWriter()
    w.write(0, 1)  # not simple
    # CL code: symbols {2,3,16,17} at length 2 → canonical codes by symbol
    cl_lengths = [0] * 19
    for s in (2, 3, 16, 17):
        cl_lengths[s] = 2
    order = [17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]
    need = max(order.index(s) for s in (2, 3, 16, 17)) + 1
    w.write(need - 4, 4)
    for i in range(need):
        w.write(cl_lengths[order[i]], 3)
    cl_codes = {s: c for (ln, c), s in
                _canonical(cl_lengths).table.items()}
    w.write(1, 1)        # use max_symbol
    w.write(0, 3)        # length_nbits = 2
    w.write(2, 2)        # max_symbol = 2 + 2 = 4 CL symbols read
    # lengths: sym0=2, skip 3 zeros (17+0), sym4=3, sym5..7 = 3 (16, rep 3)
    w.write_code(cl_codes[2], 2)
    w.write_code(cl_codes[17], 2)
    w.write(0, 3)        # 17's extra: 3 + 0 zeros
    w.write_code(cl_codes[3], 2)
    w.write_code(cl_codes[16], 2)
    w.write(0, 2)        # 16's extra: repeat prev (3) 3 times
    br = _LsbReader(w.flush())
    code = _read_code(br, 40)
    # expected lengths: [2,0,0,0,3,3,3,3,0,...] → canonical table
    expect = _canonical([2, 0, 0, 0, 3, 3, 3, 3] + [0] * 32)
    assert code.table == expect.table


def test_simple_two_symbol_code():
    w = _LsbWriter()
    w.write(1, 1)   # simple
    w.write(1, 1)   # two symbols
    w.write(1, 1)   # first is 8-bit
    w.write(200, 8)
    w.write(7, 8)
    w.write(0b10, 2)  # then read symbols: bit1 -> 7, bit0 -> 200
    br = _LsbReader(w.flush())
    code = _read_code(br, 256)
    assert code.read(br) == 200 and code.read(br) == 7


def test_container_vp8x_skipped_and_lossy_rejected():
    img = _img(8, 8, seed=9)
    buf = webp_encode_lossless(img)
    # splice a VP8X chunk before VP8L: walker must skip it
    vp8x = b"VP8X" + (10).to_bytes(4, "little") + b"\x00" * 10
    spliced = buf[:12] + vp8x + buf[12:]
    spliced = spliced[:4] + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    assert np.array_equal(webp_decode(spliced), img)
    lossy = b"RIFF" + (12).to_bytes(4, "little") + b"WEBP" + \
        b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4
    with pytest.raises(ValueError, match="lossy"):
        webp_decode(lossy)
    with pytest.raises(ValueError):
        webp_decode(b"RIFF\x00\x00\x00\x00WAVE")


def test_corruption_fuzz_exception_contract():
    img = _img(16, 16, seed=13)
    buf = webp_encode_lossless(img, use_lz77=True, cache_bits=4,
                               transforms=(("subgreen",),))
    rng = np.random.RandomState(17)
    for cut in range(0, len(buf), 13):
        try:
            webp_decode(buf[:cut])
        except ValueError:
            pass
    for _ in range(400):
        b = bytearray(buf)
        for _ in range(rng.randint(1, 5)):
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
        try:
            webp_decode(bytes(b))
        except ValueError:
            pass


def test_image_decode_dispatch_and_perceptual_chain():
    """image_decode sniffs RIFF/WEBP; lossless means the perceptual hash is
    EXACTLY the PPM hash of the same pixels."""
    img = _img(48, 64, seed=21)
    ref = im.image_sig_from_bytes(im.ppm_encode(img), "phash")
    sig = im.image_sig_from_bytes(
        webp_encode_lossless(img, use_lz77=True), "phash")
    assert sig == ref
    assert np.array_equal(im.image_decode(webp_encode_lossless(img)), img)
