"""Audio kernels: WAV/µ-law codec, preprocessing, 64-bit similarity signatures.

Pure numpy — unit-testable without Spark. These are the audio analogs of the
reference's perceptual image module (perceptual.go):

* ``preprocess``      — gain/loudness normalization + silence trim; the analog
                        of the gamma → histogram-equalize → blur pipeline
                        (perceptual.go:44-65) that makes brightness/contrast
                        edits hash-stable. Here it makes ±dB gain edits,
                        codec requantization, and trailing-pad edits stable.
* ``energy_envelope`` — resample the clip onto a fixed frame grid; the analog
                        of the Catmull-Rom resize to 9x8 / 8x8 / 32x32
                        (perceptual.go:303-312).
* ``dhash_sig``       — bit i = energy[i+1] > energy[i]  (perceptual.go:173-199)
* ``ahash_sig``       — bit i = energy[i]  >= mean       (perceptual.go:203-238)
* ``phash_sig``       — DCT-II of the envelope, low-band coeffs vs median,
                        DC excluded                       (perceptual.go:242-292,
                        vectorized matrix DCT instead of the naive O(n^4) loop)
* ``hamming64``       — popcount(xor) on packed int64; the reference compares
                        64-char '0'/'1' strings char-wise (perceptual.go:385-397)
                        — we pack to one int64 (SURVEY.md §1.1).

All signatures are packed uint64 returned as Python int (Spark LongType,
two's complement — see ``pack_bits``).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# WAV s16le + µ-law codec (dependency-free; fixtures per FIXTURES.md §1)
# ---------------------------------------------------------------------------

_RIFF_FMT = "<4sI4s4sIHHIIHH4sI"  # RIFF header + fmt chunk + data chunk header


def wav_encode(pcm: np.ndarray, sr_hz: int) -> bytes:
    """Encode float PCM in [-1, 1] to a minimal RIFF/WAV s16le (mono)."""
    x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
    s16 = np.round(x * 32767.0).astype("<i2")
    data = s16.tobytes()
    hdr = struct.pack(
        _RIFF_FMT,
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sr_hz, sr_hz * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def wav_parse(buf) -> tuple[int, int, "bytes | memoryview"]:
    """Walk RIFF chunks → (fmt_code, sr_hz, raw data chunk). Accepts bytes or
    memoryview (zero-copy from an Arrow buffer slice); WAVs with extra chunks
    (LIST etc.) also parse. Raises ValueError on malformed buffers — the
    caller maps that to a null signature (main.go:666-674)."""
    fmt_code, sr, _block_align, _bits, data, _fact = wav_parse_ext(buf)
    return fmt_code, sr, data


def wav_parse_ext(
    buf,
) -> tuple[int, int, int, int, "bytes | memoryview", "int | None"]:
    """wav_parse plus the fmt chunk's block_align (block codecs need their
    block boundaries), bits_per_sample (PCM needs its sample width —
    assuming 16 silently misdecodes 8/24/32-bit payloads), and the fact
    chunk's dwSampleLength (None when absent) — block codecs need it to
    trim the pad nibble a final partial block may carry, else a transcode
    of the same master decodes one sample long and its signature drifts."""
    if len(buf) < 12 or bytes(buf[:4]) != b"RIFF" or bytes(buf[8:12]) != b"WAVE":
        raise ValueError("not a RIFF/WAVE buffer")
    pos, n = 12, len(buf)
    fmt_code = sr = None
    block_align = 0
    bits = 16
    data = None
    fact = None
    while pos + 8 <= n:
        cid = bytes(buf[pos:pos + 4])
        (clen,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8:pos + 8 + clen]
        if cid == b"fact" and len(body) >= 4:
            (fact,) = struct.unpack_from("<I", body, 0)
        elif cid == b"fmt ":
            # tolerate the legacy 14-byte WAVEFORMAT (no wBitsPerSample)
            # and anything shorter than a full 16-byte WAVEFORMATEX as
            # long as the 8-byte core is present; short chunks must still
            # raise ValueError (null-signature contract), never
            # struct.error
            if len(body) < 8:
                raise ValueError(f"short fmt chunk ({len(body)} bytes)")
            fmt_code, channels, sr = struct.unpack_from("<HHI", body, 0)
            if len(body) >= 14:
                (block_align,) = struct.unpack_from("<H", body, 12)
            if len(body) >= 16:
                (bits,) = struct.unpack_from("<H", body, 14)
            if channels != 1:
                raise ValueError(f"unsupported channel count {channels}")
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)
    if fmt_code is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return fmt_code, int(sr), int(block_align), int(bits), data, fact


def wav_probe_fmt(buf) -> tuple[int, int, int, int, int, int]:
    """Probe-side RIFF walk → (fmt_code, channels, sr, block_align, bits,
    data_len). Unlike wav_parse_ext it does NOT reject multi-channel
    files — a corpus probe must report a stereo WAV's metadata, not
    degrade it to an ok=false row (the decode paths stay mono-only)."""
    if len(buf) < 12 or bytes(buf[:4]) != b"RIFF" or bytes(buf[8:12]) != b"WAVE":
        raise ValueError("not a RIFF/WAVE buffer")
    pos, n = 12, len(buf)
    fmt_code = sr = None
    channels = 1
    block_align = 0
    bits = 16
    data_len = 0
    while pos + 8 <= n:
        cid = bytes(buf[pos:pos + 4])
        (clen,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8:pos + 8 + clen]
        if cid == b"fmt ":
            if len(body) < 8:
                raise ValueError(f"short fmt chunk ({len(body)} bytes)")
            fmt_code, channels, sr = struct.unpack_from("<HHI", body, 0)
            if len(body) >= 14:
                (block_align,) = struct.unpack_from("<H", body, 12)
            if len(body) >= 16:
                (bits,) = struct.unpack_from("<H", body, 14)
        elif cid == b"data":
            data_len = len(body)
        pos += 8 + clen + (clen & 1)
    if fmt_code is None:
        raise ValueError("missing fmt chunk")
    return int(fmt_code), int(channels), int(sr), int(block_align), int(bits), data_len


def pcm_to_s16(data, bits: int) -> np.ndarray:
    """Integer-PCM data chunk → int16 samples.

    16-bit is a zero-copy view; 8-bit (unsigned, 128-offset) shifts up;
    24/32-bit keep their top 16 bits — exactly the samples a 16-bit
    transcode of the same master would carry, so signatures of
    different-depth siblings agree to within rounding of the masters."""
    if bits == 16:
        return np.frombuffer(data, dtype="<i2", count=len(data) // 2)
    if bits == 8:
        u8 = np.frombuffer(data, dtype=np.uint8)
        return ((u8.astype(np.int16) - 128) << 8)
    if bits == 24:
        n = len(data) // 3
        raw = np.frombuffer(data, dtype=np.uint8, count=n * 3).reshape(n, 3)
        # little-endian: the top two bytes ARE the int16 view of the
        # sample's high 16 bits
        return raw[:, 1:3].copy().view("<i2")[:, 0]
    if bits == 32:
        i32 = np.frombuffer(data, dtype="<i4", count=len(data) // 4)
        return (i32 >> 16).astype(np.int16)
    raise ValueError(f"unsupported pcm bit depth {bits}")


def wav_decode(buf) -> tuple[np.ndarray, int]:
    """Decode a (minimal) RIFF/WAV into (float PCM in [-1,1], sr_hz).

    Supports mono integer PCM (8/16/24/32-bit), IEEE float (fmt 3,
    f32/f64), µ-law (7), A-law (6), IMA ADPCM (0x11) and MS ADPCM (2);
    anything else raises ValueError. This is the materializing path
    (probe/compare/tests and the non-s16 branches); the signature hot
    path skips it entirely for integer-PCM payloads
    (see sig_from_wav_bytes / envelope_s16 / pcm_to_s16).
    """
    fmt_code, sr, block_align, bits, data, fact = wav_parse_ext(buf)
    if fmt_code == 1:  # integer PCM (8/16/24/32-bit)
        if bits == 16:
            # float32 + in-place scale: the signature kernels are memory-
            # bandwidth-bound (they cap at ~2.2x going 8→32 cores in
            # float64); float32 halves every later pass's traffic.
            # Envelope accumulation still happens in float64
            # (energy_envelope) so precision of the bit decisions is
            # unchanged.
            pcm = np.frombuffer(data, dtype="<i2").astype(np.float32)
            pcm *= np.float32(1.0 / 32767.0)
        elif bits == 24:
            # materializing path keeps the full 24-bit precision
            n24 = len(data) // 3
            raw = np.frombuffer(data, dtype=np.uint8, count=n24 * 3)
            i32 = np.zeros(n24, dtype=np.int32)
            i32 |= raw[0::3].astype(np.int32)
            i32 |= raw[1::3].astype(np.int32) << 8
            i32 |= raw[2::3].astype(np.int32) << 16
            i32 = (i32 << 8) >> 8  # sign-extend 24 → 32
            pcm = i32.astype(np.float32)
            pcm *= np.float32(1.0 / (1 << 23))
        elif bits == 32:
            pcm = np.frombuffer(data, dtype="<i4").astype(np.float32)
            pcm *= np.float32(1.0 / (1 << 31))
        elif bits == 8:
            u8 = np.frombuffer(data, dtype=np.uint8)
            pcm = (u8.astype(np.float32) - np.float32(128.0))
            pcm *= np.float32(1.0 / 128.0)
        else:
            raise ValueError(f"unsupported pcm bit depth {bits}")
    elif fmt_code == 3:  # IEEE float PCM
        if bits == 32:
            pcm = np.frombuffer(data, dtype="<f4")
        elif bits == 64:
            pcm = np.frombuffer(data, dtype="<f8").astype(np.float32)
        else:
            raise ValueError(f"unsupported float bit depth {bits}")
    elif fmt_code == 7:  # µ-law
        pcm = ulaw_decode(np.frombuffer(data, dtype=np.uint8))
    elif fmt_code == 6:  # A-law (integer-exact LUT → float only here)
        from file_deduplicator_spark.functions.pcm_codecs import alaw_decode_s16

        pcm = alaw_decode_s16(np.frombuffer(data, dtype=np.uint8)).astype(np.float32)
        pcm *= np.float32(1.0 / 32767.0)
    elif fmt_code == 0x11:  # IMA ADPCM (blockwise, vectorized across blocks)
        from file_deduplicator_spark.functions.pcm_codecs import adpcm_ima_decode

        pcm = _trim_fact(adpcm_ima_decode(data, block_align), fact)
        pcm = pcm.astype(np.float32)
        pcm *= np.float32(1.0 / 32767.0)
    elif fmt_code == 2:  # MS ADPCM (blockwise, vectorized across blocks)
        from file_deduplicator_spark.functions.pcm_codecs import adpcm_ms_decode

        pcm = _trim_fact(adpcm_ms_decode(data, block_align), fact)
        pcm = pcm.astype(np.float32)
        pcm *= np.float32(1.0 / 32767.0)
    else:
        raise ValueError(f"unsupported wav format {fmt_code}")
    return pcm, int(sr)


def _trim_fact(pcm: np.ndarray, fact: "int | None") -> np.ndarray:
    """Trim block-codec output to the fact chunk's true sample count.

    An ADPCM stream whose final block carries a pad nibble decodes one
    sample long without this, so a same-master transcode's envelope (and
    hence signature) could drift by borderline bits. Only a trim — a fact
    larger than the decoded length is ignored (corrupt metadata must not
    truncate real samples to nothing)."""
    if fact is not None and 0 < fact < pcm.size:
        return pcm[:fact]
    return pcm


# --- µ-law (G.711) — the "transcode variant" codec (FIXTURES.md §1) ---------

_ULAW_MU = 255.0


def ulaw_encode_bytes(pcm: np.ndarray, sr_hz: int) -> bytes:
    """Encode float PCM to a RIFF/WAV container with µ-law (format 7) payload."""
    x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
    comp = np.sign(x) * np.log1p(_ULAW_MU * np.abs(x)) / np.log1p(_ULAW_MU)
    u8 = np.round((comp + 1.0) * 127.5).astype(np.uint8)
    data = u8.tobytes()
    hdr = struct.pack(
        _RIFF_FMT,
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 7, 1, sr_hz, sr_hz, 1, 8,
        b"data", len(data),
    )
    return hdr + data


def ulaw_decode(u8: np.ndarray) -> np.ndarray:
    # float32 like the PCM path (see wav_decode) — expansion math in
    # float64 would double every later kernel pass's memory traffic
    comp = u8.astype(np.float32) / np.float32(127.5) - np.float32(1.0)
    out = np.sign(comp) * (np.expm1(np.abs(comp) * np.float32(np.log1p(_ULAW_MU))) / np.float32(_ULAW_MU))
    return out.astype(np.float32, copy=False)


# ---------------------------------------------------------------------------
# Preprocessing (analog of perceptual.go:44-65 preprocessImage)
# ---------------------------------------------------------------------------

SILENCE_REL_DB = -40.0  # trim threshold relative to clip peak


def preprocess(pcm: np.ndarray) -> np.ndarray:
    """Silence-trim + RMS gain normalization.

    Makes the signature invariant to: overall gain changes (±dB edits —
    analog of the brightness/contrast filters perceptual_test.go:173-198),
    and leading/trailing silence padding (analog of the resize/crop
    tolerance perceptual_test.go:234-329).
    """
    x = np.asarray(pcm)
    if x.dtype not in (np.float32, np.float64):
        x = x.astype(np.float32)
    if x.size == 0:
        return x
    ax = np.abs(x)  # computed once — reused for peak and trim mask
    peak = float(ax.max())
    if peak <= 0.0:
        return x[:0]  # pure silence → empty (handled as degenerate sig)
    thresh = peak * (10.0 ** (SILENCE_REL_DB / 20.0))
    nz = np.flatnonzero(ax > thresh)
    x = x[nz[0]:nz[-1] + 1]
    # BLAS dot for the energy sum: one pass, pairwise-accumulated
    rms = float(np.sqrt(np.dot(x, x) / x.size))
    if rms > 0:
        x = x / x.dtype.type(rms)
    return x


# ---------------------------------------------------------------------------
# Fixed-grid energy envelope (analog of resizeImage, perceptual.go:303-312)
# ---------------------------------------------------------------------------

def energy_envelope(pcm: np.ndarray, n_frames: int) -> np.ndarray:
    """Log-energy of the clip averaged onto exactly ``n_frames`` equal frames.

    Duration-invariant by construction (the resize analog): a padded or
    resampled copy of the same audio lands on nearly the same envelope.
    """
    x = np.asarray(pcm)
    if x.size == 0:
        return np.zeros(n_frames)
    sq = x * x  # input dtype (float32 on the decode path — half the traffic)
    # Prefix-sum → exact mean energy per (fractional) frame boundary;
    # accumulated in float64 so bit decisions keep full precision.
    csum = np.empty(x.size + 1, dtype=np.float64)
    csum[0] = 0.0
    np.cumsum(sq, dtype=np.float64, out=csum[1:])
    # same arange·step linspace equivalence as envelope_s16 (see note there)
    bounds = _frame_arange(n_frames) * (x.size / n_frames)
    bounds[-1] = x.size
    lo = np.floor(bounds[:-1]).astype(np.int64)
    hi = np.ceil(bounds[1:]).astype(np.int64)
    hi = np.maximum(hi, lo + 1)
    energy = (csum[np.minimum(hi, x.size)] - csum[lo]) / np.maximum(hi - lo, 1)
    return np.log1p(energy)


# ---------------------------------------------------------------------------
# 64-bit signatures
# ---------------------------------------------------------------------------

SIG_BITS = 64

# Version of the signature kernels as a persisted-state compatibility key.
# Bump whenever a numeric change can flip borderline envelope bits (round-2
# float64→float32 decode switch = v2; round-3 fused int16 envelope kernel =
# v3): watch-mode state built by an older kernel must be rebuilt, not
# silently compared against new signatures (streaming/watch.py binds this
# into its checkpoint).
SIG_KERNEL_VERSION = 3


def pack_bits(bits: np.ndarray) -> int:
    """Pack a length-64 bool array (bit 0 = MSB) into a signed int64.

    Signed two's complement so the value round-trips through Spark LongType.
    np.packbits (MSB-first per byte) + a big-endian int64 view replaces the
    original 64-step Python shift loop — same value, ~50x less per-call cost
    (the loop measured 55 µs/row, ~15% of the whole signature kernel).
    """
    b = np.asarray(bits, dtype=bool)
    if b.size == 64:
        return int(np.packbits(b).view(">i8")[0])
    # generic fallback (tests exercise short vectors)
    val = 0
    for x in b:
        val = (val << 1) | int(x)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def _dhash_bits(env: np.ndarray) -> int:
    return pack_bits(env[1:] > env[:-1])


def _ahash_bits(env: np.ndarray) -> int:
    return pack_bits(env >= env.mean())


def dhash_sig(pcm: np.ndarray) -> int:
    """Gradient signature: bit i = envelope[i+1] > envelope[i].

    Audio analog of dHash (perceptual.go:173-199): 65 frames → 64 deltas.
    Gain-invariant by construction (log-energy deltas are unchanged under
    uniform gain even before RMS normalization).
    """
    return _dhash_bits(energy_envelope(preprocess(pcm), SIG_BITS + 1))


def ahash_sig(pcm: np.ndarray) -> int:
    """Mean-threshold signature: bit i = envelope[i] >= mean (perceptual.go:203-238)."""
    return _ahash_bits(energy_envelope(preprocess(pcm), SIG_BITS))


# 65-frame envelope → 65 DCT coefficients, so dropping DC leaves a genuine
# 64-value signature (a 64-point DCT gave only 63 post-DC coeffs — bit 63
# was always 0, contradicting the 64-bit contract).
_DCT_N = SIG_BITS + 1
# DCT-II matrix (orthonormal), precomputed once: the vectorized replacement
# for the reference's naive O(n^4) 2-D DCT loop (perceptual.go:346-378).
_k = np.arange(_DCT_N)
_DCT_M = np.cos(np.pi * (2.0 * _k[None, :] + 1.0) * _k[:, None] / (2.0 * _DCT_N))


def _phash_bits(env: np.ndarray) -> int:
    coeffs = _DCT_M @ env
    low = coeffs[1:SIG_BITS + 1]
    assert low.size == SIG_BITS
    return pack_bits(low > np.median(low))


def phash_sig(pcm: np.ndarray) -> int:
    """Spectral signature: DCT-II of the 65-frame envelope; bit i =
    coeff[i+1] > median of coeffs 1..64 (DC excluded, perceptual.go:276-287).
    """
    return _phash_bits(energy_envelope(preprocess(pcm), _DCT_N))


SIG_FUNCS = {"dhash": dhash_sig, "ahash": ahash_sig, "phash": phash_sig}

# (env_frames, bits_fn) per algorithm — shared by the float path above and
# the fused int16 path below
_SIG_SHAPES = {
    "dhash": (SIG_BITS + 1, _dhash_bits),
    "ahash": (SIG_BITS, _ahash_bits),
    "phash": (_DCT_N, _phash_bits),
}


_FRAME_ARANGE: dict[int, np.ndarray] = {}


def _frame_arange(n_frames: int) -> np.ndarray:
    """Cached float64 arange(n_frames+1) — n_frames is one of {64, 65}."""
    arr = _FRAME_ARANGE.get(n_frames)
    if arr is None:
        arr = _FRAME_ARANGE[n_frames] = np.arange(n_frames + 1, dtype=np.float64)
    return arr


def envelope_s16(s16: np.ndarray, n_frames: int) -> np.ndarray:
    """FUSED signature envelope straight from int16 samples — the v3 kernel.

    Mathematically identical to ``energy_envelope(preprocess(pcm), n)`` for
    s16 input, but with no per-sample float materialization (the v2 path
    wrote a float32 PCM copy, a normalized copy, and a squared copy — the
    signature stage is memory-bandwidth-bound, SCALING.json):

    * trim:       |x| > peak·10^(-40/20)  ⟺  x² > peak²·10⁻⁴ — evaluated on
                  the int32 squares, no separate |x| pass;
    * normalize:  env = log1p(mean_frame(x_norm²)) with x_norm = x/(32767·rms)
                  and rms² = mean(x²)/32767² — the 32767² CANCELS, so
                  env = log1p(frame_mean(x²) · n / Σx²) is an exact rational
                  of int64 prefix sums; no per-element division at all.

    Per-sample traffic: read 2 B + write 4 B (squares) + write 8 B (prefix
    sum) vs the v2 path's ~50 B. Bit decisions can differ from v2 on
    borderline frames (per-element float32 rounding is gone) — hence the
    SIG_KERNEL_VERSION bump.
    """
    # one fused multiply: reads the int16 buffer twice, writes int32 squares
    # once (no intermediate astype copy); max 32768² = 2^30 fits int32
    sq = np.multiply(s16, s16, dtype=np.int32)
    if sq.size == 0:
        return np.zeros(n_frames)
    peak_sq = int(sq.max())
    if peak_sq <= 0:
        return np.zeros(n_frames)  # pure silence → degenerate envelope
    mask = sq > (peak_sq * 1e-4)  # (peak·10^(-40dB/20))²
    first = int(np.argmax(mask))
    last = sq.size - 1 - int(np.argmax(mask[::-1]))
    trimmed = sq[first:last + 1]
    n = trimmed.size
    # arange·step with the endpoint pinned — the exact fp operations
    # np.linspace(0, n, n_frames+1) performs for start=0 (y = arange*step;
    # y[-1] = stop), minus linspace's ~35 µs/call dispatch overhead
    # (recomputed per row because n varies with the trim)
    bounds = _frame_arange(n_frames) * (n / n_frames)
    bounds[-1] = n
    lo = np.floor(bounds[:-1]).astype(np.int64)
    hi = np.ceil(bounds[1:]).astype(np.int64)
    hi = np.maximum(hi, lo + 1)
    # prefix sums are only ever read at the ~2·n_frames distinct frame
    # boundaries, so sum disjoint boundary segments with one reduceat pass
    # (4 B/sample read, no n-sized write) instead of materializing a full
    # int64 cumsum (8 B/sample write) — same exact int64 sums, and this
    # stage is memory-bandwidth-bound (SCALING.json)
    pts = np.unique(np.concatenate([lo, np.minimum(hi, n)]))
    # pts[0] == 0 (lo[0] = floor(0)) and pts[-1] == n (bounds[-1] pinned)
    seg = np.add.reduceat(trimmed, pts[:-1], dtype=np.int64)
    cs = np.empty(pts.size, dtype=np.int64)
    cs[0] = 0
    np.cumsum(seg, out=cs[1:])
    total = int(cs[-1])
    frame_sum = (cs[np.searchsorted(pts, np.minimum(hi, n))]
                 - cs[np.searchsorted(pts, lo)]).astype(np.float64)
    frame_mean = frame_sum / np.maximum(hi - lo, 1)
    return np.log1p(frame_mean * (n / total))


def sig_from_wav_bytes(buf, algo: str = "dhash") -> int:
    """Signature straight from a WAV payload (bytes or zero-copy memoryview).

    s16 payloads take the fused int16 kernel (envelope_s16) — no PCM float
    array is ever built; µ-law falls back to the float decode path (8-bit
    input, a fraction of the traffic). Raises ValueError on undecodable
    buffers (caller → null signature via udfs.media_sig_or_none).
    """
    n_frames, bits_fn = _SIG_SHAPES.get(algo, _SIG_SHAPES["dhash"])
    fmt_code, _sr, block_align, depth, data, fact = wav_parse_ext(buf)
    if fmt_code == 1:
        # any integer depth reduces to int16 (top bits) → fused kernel
        return bits_fn(envelope_s16(pcm_to_s16(data, depth), n_frames))
    if fmt_code == 3:  # IEEE float → the float envelope path
        if depth == 32:
            pcm = np.frombuffer(data, dtype="<f4")
        elif depth == 64:
            pcm = np.frombuffer(data, dtype="<f8")
        else:
            raise ValueError(f"unsupported float bit depth {depth}")
        return bits_fn(energy_envelope(preprocess(pcm), n_frames))
    if fmt_code == 6:  # A-law expands to exact int16 → fused kernel
        from file_deduplicator_spark.functions.pcm_codecs import alaw_decode_s16

        s16 = alaw_decode_s16(np.frombuffer(data, dtype=np.uint8))
        return bits_fn(envelope_s16(s16, n_frames))
    if fmt_code == 0x11:  # IMA ADPCM decodes to exact int16 → fused kernel
        from file_deduplicator_spark.functions.pcm_codecs import adpcm_ima_decode

        s16 = _trim_fact(adpcm_ima_decode(data, block_align), fact)
        return bits_fn(envelope_s16(s16, n_frames))
    if fmt_code == 2:  # MS ADPCM decodes to exact int16 → fused kernel
        from file_deduplicator_spark.functions.pcm_codecs import adpcm_ms_decode

        s16 = _trim_fact(adpcm_ms_decode(data, block_align), fact)
        return bits_fn(envelope_s16(s16, n_frames))
    if fmt_code != 7:
        raise ValueError(f"unsupported wav format {fmt_code}")
    pcm = ulaw_decode(np.frombuffer(data, dtype=np.uint8))
    return bits_fn(energy_envelope(preprocess(pcm), n_frames))


def sig_from_aiff_bytes(buf, algo: str = "dhash") -> int:
    """Signature from an AIFF payload. AIFF is lossless big-endian PCM, so
    a 16-bit mono AIFF yields the EXACT int16 samples of its WAV sibling
    and the identical signature through the fused kernel — the WAV↔AIFF
    transcode pair verifies at Hamming distance 0 (same guarantee as
    sig_from_flac_bytes)."""
    from file_deduplicator_spark.functions.pcm_codecs import aiff_decode_s16

    n_frames, bits_fn = _SIG_SHAPES.get(algo, _SIG_SHAPES["dhash"])
    s16, _sr = aiff_decode_s16(buf)
    return bits_fn(envelope_s16(s16, n_frames))


def sig_from_flac_bytes(buf, algo: str = "dhash") -> int:
    """Signature from a FLAC payload. FLAC is lossless, so a 16-bit mono
    FLAC yields the EXACT int16 samples of its WAV sibling and therefore the
    identical signature through the same fused kernel (``envelope_s16``) —
    the WAV↔FLAC transcode pair verifies at Hamming distance 0. (The
    reference has no codec layer — its perceptual channel reads decoded
    images, perceptual.go:406-431; this is the audio-corpus analog the
    north-star's ``codec`` column asks for.)"""
    from file_deduplicator_spark.functions.flac import flac_decode_s16_mono

    n_frames, bits_fn = _SIG_SHAPES.get(algo, _SIG_SHAPES["dhash"])
    s16, _sr = flac_decode_s16_mono(buf)
    return bits_fn(envelope_s16(s16, n_frames))


def sig_from_mp4_bytes(buf, algo: str = "dhash") -> int:
    """Signature from an ISO-BMFF (mp4/m4a/mov) payload: a video track
    signs through the image perceptual chain on its FIRST sampled frame
    (one lazy sample read — the container walk never touches the other
    payloads); an audio-only raw-PCM track signs through the fused
    envelope kernel, bit-identical to its WAV sibling. Gated codecs
    (avc1/mp4a/...) raise NotImplementedError → null signature upstream."""
    from file_deduplicator_spark.functions import mp4 as M

    buf = bytes(buf)
    tracks = M.parse_tracks(buf)
    if any(t["handler"] == "vide" for t in tracks):
        from file_deduplicator_spark.functions.image import (
            IMAGE_SIG_FUNCS,
            dhash_image,
        )

        frame = M.mp4_sample_frames(buf, 1)[0]
        return IMAGE_SIG_FUNCS.get(algo.lower(), dhash_image)(frame)
    n_frames, bits_fn = _SIG_SHAPES.get(algo, _SIG_SHAPES["dhash"])
    s16, _sr = M.mp4_audio_decode(buf)
    return bits_fn(envelope_s16(s16, n_frames))


def audio_decode(buf) -> tuple[np.ndarray, int]:
    """Codec-sniffing decode → (float PCM in [-1,1] mono, sr_hz): RIFF/WAV
    (s16le, µ-law), FLAC, or raw-PCM mp4/m4a. The materializing path
    (features / SNR invariants / compare); the signature hot path stays
    fused-int16."""
    if bytes(buf[:4]) == b"fLaC":
        from file_deduplicator_spark.functions.flac import flac_decode_s16_mono

        s16, sr = flac_decode_s16_mono(buf)
        pcm = s16.astype(np.float32)
        pcm *= np.float32(1.0 / 32767.0)
        return pcm, sr
    if bytes(buf[4:8]) == b"ftyp":
        from file_deduplicator_spark.functions.mp4 import mp4_audio_decode

        s16, sr = mp4_audio_decode(buf)
        pcm = s16.astype(np.float32)
        pcm *= np.float32(1.0 / 32767.0)
        return pcm, sr
    if bytes(buf[:4]) == b"FORM" and bytes(buf[8:12]) == b"AIFF":
        from file_deduplicator_spark.functions.pcm_codecs import aiff_decode_s16

        s16, sr = aiff_decode_s16(buf)
        pcm = s16.astype(np.float32)
        pcm *= np.float32(1.0 / 32767.0)
        return pcm, sr
    return wav_decode(buf)


def hamming64(a: int, b: int) -> int:
    """Popcount of xor — the packed-int64 form of perceptual.go:385-397."""
    return int(bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1"))


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """Signal-to-noise ratio in dB between a reference PCM and a decoded copy.

    The per-row invariant from BASELINE.json input_hint: decoded-PCM
    allclose with SNR ≥ 30 dB.
    """
    ref = np.asarray(reference, dtype=np.float64)
    dec = np.asarray(decoded, dtype=np.float64)
    n = min(ref.size, dec.size)
    ref, dec = ref[:n], dec[:n]
    noise = ref - dec
    p_sig = float(np.sum(ref * ref))
    p_noise = float(np.sum(noise * noise))
    if p_noise == 0.0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_noise) if p_sig > 0 else float("-inf")
