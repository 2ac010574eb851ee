"""Multimodal plumbing tests: schema, batch shape, per-kind dispatch, error
fallback, stub gating — plus the round-3 REAL image path (PPM/BMP decode +
the reference's perceptual pipeline) end-to-end in Spark."""

import numpy as np
import pytest

from file_deduplicator_spark.datagen import _synth_pcm
from file_deduplicator_spark.functions.audio import wav_encode
from file_deduplicator_spark.functions.image import bmp_encode, ppm_encode
from file_deduplicator_spark.operators.multimodal import (
    decode_image,
    extract_media_features,
    image_near_dup_pairs,
    resize_gray,
    sample_video_frames,
)


def _gradient(n=64):
    x = np.arange(n)[None, :].repeat(n, axis=0)
    y = np.arange(n)[:, None].repeat(n, axis=1)
    return np.stack(
        [(x * 255) // n, (y * 255) // n, ((x + y) * 255) // (2 * n)], axis=2
    ).astype(np.uint8)


def test_stub_gating():
    # compressed formats still need a codec library → gated fake
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")
    with pytest.raises(NotImplementedError):
        sample_video_frames(b"....ftypmp4")
    img = decode_image(b"\x89PNG....", allow_fake=True)
    assert img.ndim == 3 and img.shape[2] == 3
    # deterministic
    assert (img == decode_image(b"\x89PNG....", allow_fake=True)).all()


def test_decode_image_real_formats_no_flag():
    """PPM/BMP decode is REAL — no allow_fake needed (round-3 rework)."""
    img = _gradient(32)
    assert (decode_image(ppm_encode(img)) == img).all()
    assert (decode_image(bmp_encode(img)) == img).all()


def test_resize_gray():
    img = np.zeros((32, 48, 3), dtype=np.uint8)
    img[:, 24:, :] = 255
    g = resize_gray(img, 8, 8)
    assert g.shape == (8, 8)
    assert g[:, :4].max() == 0 and g[:, 4:].min() > 200


def test_extract_media_features(spark):
    rng = np.random.RandomState(5)
    wav = wav_encode(_synth_pcm(rng, 8000, 300), 8000)
    rows = [
        ("a1", "audio", bytearray(wav)),
        ("i1", "image", bytearray(b"\x89PNGfake")),
        ("v1", "video", bytearray(b"fakevideo")),
        ("bad", "audio", bytearray(b"notawav")),
        ("unk", "blob", bytearray(b"??")),
    ]
    df = spark.createDataFrame(rows, "media_id string, kind string, bytes binary")
    out = extract_media_features(df, allow_fake=True).toPandas().set_index("media_id")

    assert out.loc["a1", "ok"] and len(out.loc["a1", "features"]) == 64
    assert out.loc["a1", "n_samples"] == 2400
    assert out.loc["i1", "ok"] and out.loc["i1", "width"] > 0
    assert out.loc["v1", "ok"] and out.loc["v1", "n_frames"] == 4
    assert not out.loc["bad", "ok"]          # decode failure → ok=false row
    assert not out.loc["unk", "ok"]          # unknown kind → ok=false row


def test_stubbed_codec_without_fake_degrades_not_fails(spark):
    df = spark.createDataFrame(
        [("i1", "image", bytearray(b"img"))], "media_id string, kind string, bytes binary"
    )
    out = extract_media_features(df, allow_fake=False).toPandas()
    assert len(out) == 1 and not out.ok.iloc[0]


def test_extract_media_features_real_image_no_fake(spark):
    """A real PPM payload goes through the REAL decoder with allow_fake off."""
    img = _gradient(48)
    df = spark.createDataFrame(
        [("p1", "image", bytearray(ppm_encode(img))),
         ("b1", "image", bytearray(bmp_encode(img)))],
        "media_id string, kind string, bytes binary",
    )
    out = extract_media_features(df, allow_fake=False).toPandas().set_index("media_id")
    assert out.loc["p1", "ok"] and out.loc["p1", "width"] == 48
    assert out.loc["b1", "ok"] and out.loc["b1", "height"] == 48
    # identical pixels through either container → identical features
    assert np.allclose(out.loc["p1", "features"], out.loc["b1", "features"])


def test_image_near_dup_pairs_spark(spark):
    """End-to-end image dedup in Spark: same pixels in two containers pair
    up (Hamming 0 → guaranteed by the Manku partition banding); an unrelated
    noise image pairs with nothing."""
    img = _gradient(64)
    rng = np.random.RandomState(11)
    noise = rng.randint(0, 256, size=(64, 64, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("a_ppm", bytearray(ppm_encode(img))),
         ("a_bmp", bytearray(bmp_encode(img))),
         ("noise", bytearray(ppm_encode(noise))),
         ("broken", bytearray(b"not an image"))],
        "image_id string, bytes binary",
    )
    pairs = image_near_dup_pairs(df, id_col="image_id").toPandas()
    got = {tuple(sorted(p)) for p in zip(pairs.id_a, pairs.id_b)}
    assert ("a_bmp", "a_ppm") in got
    assert all("noise" not in p and "broken" not in p for p in got)


def test_pnm_stream_roundtrip_and_sampling():
    from file_deduplicator_spark.functions.image import (
        pnm_stream_decode,
        pnm_stream_encode,
        sample_stream_frames,
    )

    frames = [_gradient(16 + i) for i in range(10)]
    buf = pnm_stream_encode(frames)
    out = pnm_stream_decode(buf)
    assert len(out) == 10
    for a, b in zip(frames, out):
        assert (a == b).all()
    # even sampling: 10 frames -> indices 0, 3, 6, 9
    picked = sample_stream_frames(buf, 4)
    assert len(picked) == 4
    assert (picked[0] == frames[0]).all() and (picked[-1] == frames[9]).all()
    # truncated trailing frame is dropped, not raised
    cut = pnm_stream_decode(buf[: len(buf) - 50])
    assert len(cut) == 9


def test_video_pnm_stream_real_no_fake(spark):
    from file_deduplicator_spark.functions.image import pnm_stream_encode

    stream = pnm_stream_encode([_gradient(20) for _ in range(6)])
    df = spark.createDataFrame(
        [("v1", "video", bytearray(stream)),
         ("v2", "video", bytearray(b"not a video"))],
        "media_id string, kind string, bytes binary",
    )
    out = extract_media_features(df, allow_fake=False).toPandas().set_index("media_id")
    assert out.loc["v1", "ok"] and out.loc["v1", "n_frames"] == 4
    assert out.loc["v1", "width"] == 20
    assert not out.loc["v2", "ok"]  # compressed/unknown container degrades
