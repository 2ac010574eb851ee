"""ISO-BMFF (mp4) container: lazy sample indexing, MJPEG + raw-PCM decode,
honest gates, and the multimodal/signature dispatch wiring."""

from __future__ import annotations

import numpy as np
import pytest

from file_deduplicator_spark.functions import mp4 as M
from file_deduplicator_spark.functions.jpeg import jpeg_decode, jpeg_encode


def _frames(n=6, h=32, w=48, seed=3):
    rng = np.random.default_rng(seed)
    return [
        np.clip(rng.normal(128, 40, (h, w, 3)), 0, 255).astype(np.uint8)
        for _ in range(n)
    ]


def test_probe_video_metadata():
    buf = M.mp4_encode_mjpeg(_frames(), fps=12)
    info = M.mp4_probe(buf)
    (tr,) = info["tracks"]
    assert (tr["kind"], tr["codec"], tr["n_samples"]) == ("video", "jpeg", 6)
    assert (tr["width"], tr["height"]) == (48, 32)
    assert tr["duration_ms"] == 500  # 6 frames @ 12 fps


def test_mjpeg_sample_frames_roundtrip():
    frames = _frames()
    buf = M.mp4_encode_mjpeg(frames)
    got = M.mp4_sample_frames(buf, 3)
    # linspace(0, 5, 3).round() -> samples 0, 2, 5; JPEG is lossy so the
    # oracle is decode(encode(frame)) through the same codec
    exp = [jpeg_decode(jpeg_encode(frames[i])) for i in (0, 2, 5)]
    assert len(got) == 3
    for a, b in zip(got, exp):
        assert np.array_equal(a, b)


def test_sampling_is_lazy(monkeypatch):
    """A 3-of-20 sample must decode exactly 3 payloads (the 100 TB rule:
    header walk first, decode only what was sampled)."""
    import file_deduplicator_spark.functions.jpeg as J

    buf = M.mp4_encode_mjpeg(_frames(20))
    calls = []
    real = J.jpeg_decode
    monkeypatch.setattr(J, "jpeg_decode", lambda b: calls.append(1) or real(b))
    got = M.mp4_sample_frames(buf, 3)
    assert len(got) == 3
    assert len(calls) == 3


def test_sync_table_restricts_sampling():
    frames = _frames(9)
    buf = M.mp4_encode_mjpeg(frames, sync_every=3)  # sync samples 1, 4, 7
    offs, sizes, mask = M.mp4_sample_spans(buf)
    assert mask.tolist() == [True, False, False] * 3
    got = M.mp4_sample_frames(buf, 2)
    exp_pool = [0, 3, 6]
    exp = [jpeg_decode(jpeg_encode(frames[i])) for i in (exp_pool[0], exp_pool[-1])]
    for a, b in zip(got, exp):
        assert np.array_equal(a, b)


def test_gated_video_codec_raises():
    buf = M.mp4_encode_mjpeg(_frames(2), codec=b"avc1")
    with pytest.raises(NotImplementedError, match="avc1"):
        M.mp4_sample_frames(buf, 1)


def _sine(n=8000, sr=16000):
    return (np.sin(np.arange(n) * 0.05) * 12000).astype(np.int16)


def test_pcm_roundtrip_both_endiannesses():
    s16 = _sine()
    for codec in (b"sowt", b"twos"):
        dec, sr = M.mp4_audio_decode(M.mp4_encode_pcm(s16, 16000, codec=codec))
        assert sr == 16000
        assert np.array_equal(dec, s16)


def test_gated_audio_codec_raises():
    with pytest.raises(NotImplementedError, match="mp4a"):
        M.mp4_audio_decode(M.mp4_encode_pcm(_sine(64), 16000, codec=b"mp4a"))


def test_signature_identical_to_wav_sibling():
    """Raw-PCM mp4 carries the exact int16 samples of its WAV sibling, so
    the fused envelope kernel must emit the identical 64-bit signature —
    the same transcode-identity contract as FLAC (functions/audio.py)."""
    from file_deduplicator_spark.functions.audio import wav_encode, wav_parse
    from file_deduplicator_spark.functions.udfs import media_sig_from_bytes

    s16 = _sine(12000)
    wav = wav_encode(s16.astype(np.float64) / 32767.0, 16000)
    # mux the EXACT samples the WAV stored (float round-trip can move a few
    # values by 1 lsb — the identity claim is about equal samples)
    stored = np.frombuffer(wav_parse(wav)[2], dtype="<i2")
    m4a = M.mp4_encode_pcm(stored, 16000)
    for algo in ("dhash", "ahash", "phash"):
        assert media_sig_from_bytes(wav, algo) == media_sig_from_bytes(m4a, algo)


def test_video_signature_via_image_chain():
    """An MJPEG mp4 payload signs through the image perceptual chain on its
    first sampled frame (media-sig dispatch)."""
    from file_deduplicator_spark.functions.image import dhash_image
    from file_deduplicator_spark.functions.udfs import media_sig_from_bytes

    frames = _frames(5)
    buf = M.mp4_encode_mjpeg(frames)
    sig = media_sig_from_bytes(buf, "dhash")
    first = M.mp4_sample_frames(buf, 1)[0]
    assert sig == dhash_image(first)


def test_audio_decode_dispatch():
    from file_deduplicator_spark.functions.audio import audio_decode

    s16 = _sine(4000)
    pcm, sr = audio_decode(M.mp4_encode_pcm(s16, 16000))
    assert sr == 16000
    assert np.allclose(pcm, s16.astype(np.float32) / 32767.0)


def test_multimodal_video_dispatch():
    frames = _frames(4)
    buf = M.mp4_encode_mjpeg(frames)
    got = M.mp4_sample_frames(buf, 2)
    assert len(got) == 2 and got[0].shape == (32, 48, 3)
    # gated codec: honest NotImplementedError
    gated = M.mp4_encode_mjpeg(frames, codec=b"avc1")
    with pytest.raises(NotImplementedError):
        M.mp4_sample_frames(gated, 2)


def test_malformed_buffers_raise_valueerror():
    with pytest.raises(ValueError):
        M.parse_tracks(b"\x00" * 32)
    # truncated moov: a real ftyp followed by garbage
    buf = bytearray(M.mp4_encode_mjpeg(_frames(2)))
    with pytest.raises(ValueError):
        M.parse_tracks(bytes(buf[: len(buf) // 2]))


def test_8bit_twos_track_gates_instead_of_garbage():
    """'twos' at 8 bits is legal per the QuickTime spec; decoding it as
    int16 would emit a garbage signature. The decode must raise (-> null
    signature degradation) and the corpus probe must mirror the gate."""
    from file_deduplicator_spark.operators.multimodal import _probe_one

    buf = M.mp4_encode_pcm(_sine(256), 16000, codec=b"twos", bits=8)
    with pytest.raises(ValueError, match="sample size"):
        M.mp4_audio_decode(buf)
    row = _probe_one(buf)
    assert row["decodable"] is False
    # the 16-bit sibling stays decodable
    assert _probe_one(M.mp4_encode_pcm(_sine(256), 16000))["decodable"] is True


def test_malicious_stsd_count_raises_not_hangs():
    """A corrupt stsd entry count near 2^32 (or a zero entry size) must be
    a ValueError, never a multi-minute spin the degradation contract can't
    interrupt."""
    import struct

    buf = bytearray(M.mp4_encode_pcm(_sine(64), 16000))
    at = bytes(buf).find(b"stsd")
    # count lives 8 bytes after the fourcc (ver/flags then uint32 count)
    struct.pack_into(">I", buf, at + 8, 0xFFFF_FFF0)
    with pytest.raises(ValueError, match="stsd"):
        M.parse_tracks(bytes(buf))
    # esize=0: count stays 1 but the entry declares zero size
    buf2 = bytearray(M.mp4_encode_pcm(_sine(64), 16000))
    at2 = bytes(buf2).find(b"stsd")
    struct.pack_into(">I", buf2, at2 + 12, 0)
    with pytest.raises(ValueError, match="stsd"):
        M.parse_tracks(bytes(buf2))


def test_sample_frames_exact_count_with_collisions():
    """round(linspace) collides on short tracks; the sampler must still
    return exactly n frames whenever the pool has n to give."""
    frames = _frames(5)
    buf = M.mp4_encode_mjpeg(frames)
    for n in (2, 3, 4, 5):
        assert len(M.mp4_sample_frames(buf, n)) == n
