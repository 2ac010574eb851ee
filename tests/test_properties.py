"""Property-based (hypothesis) invariants over the codec + kernel layer.

Fixed-seed tests pin known cases; these generate adversarial ones:

* vectorized ADPCM decoders ≡ the naive per-sample spec recurrence on
  ARBITRARY bytes and block sizes (not just the seeded fixtures);
* lossless roundtrips (FLAC, PNG, AIFF, 24/32-bit reduction) are exact
  for arbitrary content;
* the signature UDF layer never lets an exception escape on junk bytes
  (the null-signature degradation contract, main.go:666-674).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from file_deduplicator_spark.functions import pcm_codecs as PC
from file_deduplicator_spark.functions.audio import pcm_to_s16

SET = settings(max_examples=40, deadline=None)

s16_arrays = st.lists(
    st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=2048
).map(lambda v: np.asarray(v, dtype=np.int16))


@SET
@given(data=st.binary(min_size=0, max_size=2048),
       block_align=st.integers(min_value=8, max_value=96))
def test_ima_vectorized_equals_naive(data, block_align):
    from tests.test_pcm_codecs import _naive_ima_decode

    try:
        got = PC.adpcm_ima_decode(data, block_align)
    except ValueError:
        return  # truncated header — naive walk has no such guard
    # naive reference walks only full-header blocks; compare its span
    want = _naive_ima_decode(data, block_align)
    assert np.array_equal(got[: want.size], want)


@SET
@given(data=st.binary(min_size=0, max_size=2048),
       block_align=st.integers(min_value=10, max_value=96))
def test_ms_vectorized_equals_naive(data, block_align):
    from tests.test_pcm_codecs import _naive_ms_decode

    try:
        got = PC.adpcm_ms_decode(data, block_align)
    except ValueError:
        return
    want = _naive_ms_decode(data, block_align)
    assert np.array_equal(got[: want.size], want)


@SET
@given(s16=s16_arrays)
def test_wide_pcm_reduces_to_exact_s16(s16):
    i24 = s16.astype(np.int32) << 8
    b24 = np.zeros((s16.size, 3), dtype=np.uint8)
    b24[:, 0] = i24 & 0xFF
    b24[:, 1] = (i24 >> 8) & 0xFF
    b24[:, 2] = (i24 >> 16) & 0xFF
    assert np.array_equal(pcm_to_s16(b24.tobytes(), 24), s16)
    b32 = (s16.astype(np.int32) << 16).astype("<i4").tobytes()
    assert np.array_equal(pcm_to_s16(b32, 32), s16)


@SET
@given(s16=s16_arrays, sr=st.sampled_from([8000, 16000, 44100]))
def test_flac_roundtrip_exact_arbitrary_content(s16, sr):
    from file_deduplicator_spark.functions.flac import (
        flac_decode_s16_mono,
        flac_encode,
    )

    dec, got_sr = flac_decode_s16_mono(flac_encode(s16, sr))
    assert got_sr == sr
    assert np.array_equal(dec, s16)


@SET
@given(s16=s16_arrays)
def test_aiff_roundtrip_exact_arbitrary_content(s16):
    got, _ = PC.aiff_decode_s16(PC.aiff_encode_s16(s16, 16000))
    assert np.array_equal(got, s16)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_png_roundtrip_exact_arbitrary_images(w, h, seed):
    from file_deduplicator_spark.functions.png_gif import png_decode, png_encode

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(img)), img)


@settings(max_examples=60, deadline=None)
@given(junk=st.binary(min_size=0, max_size=512))
def test_media_sig_or_none_never_raises_on_junk(junk):
    from file_deduplicator_spark.functions.udfs import media_sig_or_none

    out = media_sig_or_none(memoryview(junk), "dhash")
    assert out is None or isinstance(out, (int, np.integer))


@settings(max_examples=60, deadline=None)
@given(junk=st.binary(min_size=0, max_size=512))
def test_probe_never_crashes_on_junk(junk):
    import struct

    from file_deduplicator_spark.operators.multimodal import _probe_one

    try:
        row = _probe_one(junk)
        assert row.get("container") is not None
    except (ValueError, NotImplementedError, struct.error):
        pass  # the contract exceptions probe_media maps to ok=false


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_webp_lossless_roundtrip_arbitrary_images(w, h, seed):
    from file_deduplicator_spark.functions.webp import (
        webp_decode,
        webp_encode_lossless,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(webp_decode(webp_encode_lossless(img)), img)


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_gif_roundtrip_arbitrary_small_images(w, h, seed):
    from file_deduplicator_spark.functions.png_gif import gif_decode, gif_encode

    rng = np.random.default_rng(seed)
    # w*h <= 192 pixels -> always <= 256 distinct colors (GIF palette cap)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(gif_decode(gif_encode(img)), img)


_MUTATION_FIXTURES = None


def _mutation_fixtures():
    """Valid payloads of every container, built once per session."""
    global _MUTATION_FIXTURES
    if _MUTATION_FIXTURES is None:
        from file_deduplicator_spark.functions.audio import wav_encode
        from file_deduplicator_spark.functions.flac import flac_encode
        from file_deduplicator_spark.functions.jpeg import jpeg_encode
        from file_deduplicator_spark.functions.mp4 import mp4_encode_pcm
        from file_deduplicator_spark.functions.png_gif import gif_encode, png_encode
        from file_deduplicator_spark.functions.webp import webp_encode_lossless

        rng = np.random.default_rng(0)
        pcm = np.sin(2 * np.pi * 440 * np.arange(4000) / 8000) * 0.5
        s16 = np.round(pcm * 32767).astype(np.int16)
        img = rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
        _MUTATION_FIXTURES = [
            wav_encode(pcm, 8000),
            PC.alaw_encode_bytes(pcm, 8000),
            PC.adpcm_encode_bytes(pcm, 8000),
            PC.aiff_encode(pcm, 8000),
            flac_encode(s16, 8000),
            mp4_encode_pcm(s16, 8000),
            png_encode(img),
            gif_encode(img),
            jpeg_encode(img),
            webp_encode_lossless(img),
        ]
    return _MUTATION_FIXTURES


@settings(max_examples=120, deadline=3000)
@given(
    which=st.integers(min_value=0, max_value=9),
    flips=st.lists(
        st.tuples(st.floats(min_value=0, max_value=0.999999),
                  st.integers(min_value=0, max_value=255)),
        min_size=1, max_size=8,
    ),
)
def test_mutated_payloads_degrade_to_null_without_hanging(which, flips):
    """Flip up to 8 bytes anywhere in a valid payload of each container:
    the signature layer must return an int or None — never hang (the
    3 s hypothesis deadline enforces this) and never leak an exception
    through the media_sig_or_none contract the signature stage calls."""
    from file_deduplicator_spark.functions.udfs import media_sig_or_none

    base = bytearray(_mutation_fixtures()[which])
    for frac, val in flips:
        base[int(frac * len(base))] = val
    out = media_sig_or_none(memoryview(bytes(base)), "dhash")
    assert out is None or isinstance(out, (int, np.integer))
