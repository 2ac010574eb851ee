"""Unit tests for the pure-numpy audio kernels (no Spark).

Mirrors the reference's perceptual test clusters (perceptual_test.go):
determinism (41-88), filter invariance (155-231), resize/pad tolerance
(234-329), near-miss separation (113-151), plus the BASELINE.json per-row
invariant: decoded-PCM SNR ≥ 30 dB through the µ-law transcode.
"""

import numpy as np
import pytest

from file_deduplicator_spark.functions.audio import (
    SIG_FUNCS,
    ahash_sig,
    dhash_sig,
    hamming64,
    phash_sig,
    snr_db,
    ulaw_decode,
    ulaw_encode_bytes,
    wav_decode,
    wav_encode,
)
from file_deduplicator_spark.datagen import _synth_pcm


def _pcm(seed=7, sr=16000, dur_ms=800):
    rng = np.random.RandomState(seed)
    return _synth_pcm(rng, sr, dur_ms)


def test_wav_roundtrip_snr():
    pcm = _pcm()
    dec, sr = wav_decode(wav_encode(pcm, 16000))
    assert sr == 16000
    assert dec.size == pcm.size
    assert snr_db(pcm, dec) >= 60  # 16-bit quantization ≈ 90+ dB


def test_ulaw_roundtrip_snr_30db():
    """BASELINE.json per-row invariant: decoded PCM SNR ≥ 30 dB."""
    pcm = _pcm()
    dec, sr = wav_decode(ulaw_encode_bytes(pcm, 16000))
    assert sr == 16000
    assert snr_db(pcm, dec) >= 30
    assert np.allclose(pcm, dec[: pcm.size], atol=0.05)


def test_wav_decode_rejects_garbage():
    with pytest.raises(ValueError):
        wav_decode(b"not a wav at all............")


def test_empty_wav():
    dec, sr = wav_decode(wav_encode(np.zeros(0), 8000))
    assert dec.size == 0


@pytest.mark.parametrize("algo", ["dhash", "ahash", "phash"])
def test_sig_deterministic(algo):
    """perceptual_test.go:41-88 TestPerceptualHashConsistency."""
    pcm = _pcm(3)
    f = SIG_FUNCS[algo]
    assert f(pcm) == f(pcm.copy())


@pytest.mark.parametrize("algo,threshold", [("dhash", 10), ("ahash", 12), ("phash", 8)])
def test_gain_invariance(algo, threshold):
    """±2 dB gain must stay within per-algo threshold (brightness analog)."""
    f = SIG_FUNCS[algo]
    for seed in range(5):
        pcm = _pcm(seed)
        for db in (-2.0, 2.0):
            g = 10 ** (db / 20.0)
            d = hamming64(f(pcm), f(np.clip(pcm * g, -1, 1)))
            assert d <= threshold, f"seed={seed} db={db} dist={d}"


@pytest.mark.parametrize("algo,threshold", [("dhash", 10), ("ahash", 12), ("phash", 8)])
def test_transcode_invariance(algo, threshold):
    """µ-law round-trip must stay within threshold (JPEG re-encode analog)."""
    f = SIG_FUNCS[algo]
    for seed in range(5):
        pcm = _pcm(seed)
        dec = ulaw_decode(np.frombuffer(ulaw_encode_bytes(pcm, 16000)[44:], dtype=np.uint8))
        d = hamming64(f(pcm), f(dec))
        assert d <= threshold, f"seed={seed} dist={d}"


@pytest.mark.parametrize("algo,threshold", [("dhash", 10), ("ahash", 12), ("phash", 8)])
def test_pad_invariance(algo, threshold):
    """≤50 ms trailing silence (resize/crop analog, perceptual_test.go:234-329)."""
    f = SIG_FUNCS[algo]
    for seed in range(5):
        pcm = _pcm(seed)
        pad = np.zeros(int(16000 * 0.05))
        d = hamming64(f(pcm), f(np.concatenate([pcm, pad])))
        assert d <= threshold, f"seed={seed} dist={d}"


def test_near_miss_separation():
    """Different signals must exceed the threshold (perceptual_test.go:113-151)."""
    dists = [
        hamming64(dhash_sig(_pcm(seed)), dhash_sig(_pcm(seed + 100)))
        for seed in range(8)
    ]
    # dHash of independent signals ≈ 32 expected; all must clear threshold 10.
    assert min(dists) > 10, dists


def test_silence_degenerate():
    assert dhash_sig(np.zeros(1600)) == dhash_sig(np.zeros(800))


def test_pack_sign_roundtrip():
    """Signatures fit Spark LongType (signed) and hamming still works."""
    a = dhash_sig(_pcm(1))
    b = dhash_sig(_pcm(2))
    assert -(1 << 63) <= a < (1 << 63)
    assert 0 <= hamming64(a, b) <= 64


def test_arrow_signature_stage_null_bytes_row(spark):
    """Regression (round-3 advice): a NULL bytes row through the mapInArrow
    signature stage must yield a null sim_sig (the documented fallback), not
    a task failure — and every row's minhash_sig must equal the per-row
    numpy reference."""
    import numpy as np
    import pandas as pd

    from file_deduplicator_spark.functions.audio import sig_from_wav_bytes, wav_encode
    from file_deduplicator_spark.functions.text import minhash_params, minhash_signature_py
    from file_deduplicator_spark.functions.udfs import signatures_map_in_arrow

    rng = np.random.RandomState(3)
    wav = wav_encode(rng.uniform(-0.5, 0.5, 4000), 8000)
    rows = [
        ("c1", bytearray(wav), "hello world transcript one"),
        ("c2", None, "null payload still gets a minhash"),
        ("c3", bytearray(b"notawav"), ""),
        ("c4", bytearray(wav), None),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, transcript string")
    out = (
        signatures_map_in_arrow(df, "dhash", 64, 3, 42)
        .toPandas().sort_values("clip_id").reset_index(drop=True)
    )
    assert "bytes" not in out.columns
    assert out.loc[0, "sim_sig"] == sig_from_wav_bytes(wav, "dhash")
    assert pd.isna(out.loc[1, "sim_sig"])       # null bytes -> null sig
    assert pd.isna(out.loc[2, "sim_sig"])       # decode failure -> null sig
    a, b = minhash_params(64, 42)
    for (_, _, text), got in zip(rows, out.minhash_sig):  # rows are in id order
        assert list(got) == minhash_signature_py(text or "", a, b, 3).tolist()
