"""Multimodal binary-column operators: decode / feature-extract / resize /
frame-sample plumbing for image, audio, and video payloads.

The engine treats every modality as an opaque ``binary`` column plus typed
metadata (the clips table's ``bytes + sr_hz/dur_ms/codec`` pattern,
generalized). Audio decode is REAL (functions/audio.py — WAV/µ-law) and so
is image decode (functions/image.py — PPM/PGM/BMP since round 3, plus
dependency-free PNG and GIF since round 4, functions/png_gif.py: stdlib
zlib inflate + the 5 scanline unfilters / variable-width LZW; plus
dependency-free baseline + progressive JPEG, functions/jpeg.py: huffman
entropy decode, Annex G successive approximation, batched matrix IDCT,
Go's exact integer YCbCr→RGB; plus dependency-free lossless WebP,
functions/webp.py: full VP8L bitstream — prefix codes, meta-prefix groups,
color cache, 2-D LZ77, all four transforms — matching all 6 formats Go's
stdlib registry gives the reference, perceptual.go:4-14, with only the
lossy VP8 profile gated), all feeding the
reference's actual gamma→histeq→blur→Catmull-Rom perceptual pipeline
(perceptual.go:44-65,301-312); so is video frame-sampling for
concatenated-PNM streams (the netpbm / ffmpeg image2pipe format) AND for
animated GIF as a compressed container (gif_sample_frames: GIF89a
sub-rect/transparency/disposal compositing, lazy sampling of independent
frames). Lossy (VP8) WebP and other compressed video containers (mp4/webm)
still need external libraries absent from this container: those
payloads raise inside the decode kernel and yield ok=false rows, or use the
clearly-marked deterministic fake behind ``allow_fake=True`` (so the
Spark-side plumbing — schema, batch iteration, partitioning, UDF signatures
— is testable for those kinds too). Swapping in Pillow/PyAV later changes
ONE function each, not the plan.

All operators run through ``mapInPandas`` (per-partition Arrow batch
iterator) — the right shape for multi-MB payloads: bounded batch memory via
``spark.sql.execution.arrow.maxRecordsPerBatch``, no per-row Python UDF
dispatch, and the output schema is declared up front.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 64

MEDIA_FEATURE_SCHEMA = (
    "media_id string, kind string, ok boolean, "
    "width int, height int, n_frames int, n_samples bigint, "
    f"features array<float>"
)


# ---------------------------------------------------------------------------
# decode kernels (audio real; image/video stubbed)
# ---------------------------------------------------------------------------


def decode_image(data: bytes, allow_fake: bool = False) -> np.ndarray:
    """Image decode → HxWx3 uint8.

    REAL for the dependency-free formats (PPM/PGM/BMP — functions/image.py;
    PNG/GIF — functions/png_gif.py; baseline + progressive JPEG —
    functions/jpeg.py; lossless WebP/VP8L — functions/webp.py); lossy
    (VP8) WebP needs a codec library absent from this
    container and raises — unless ``allow_fake=True``, in which case a
    deterministic content-seeded fake keeps downstream plumbing testable
    for payloads the container can't decode.
    """
    from file_deduplicator_spark.functions.image import image_decode

    try:
        return image_decode(data)
    except ValueError:
        if not allow_fake:
            raise NotImplementedError(
                "lossy (VP8) WebP decode requires a codec library (not in "
                "container); supported real formats: PPM/PGM/BMP/PNG/GIF/"
                "JPEG/lossless-WebP — or pass allow_fake=True for the "
                "deterministic test fake"
            )
    seed = int.from_bytes(data[:8].ljust(8, b"\0"), "little") % (2**31)
    rng = np.random.RandomState(seed)
    h, w = 16 + seed % 48, 16 + (seed // 7) % 48
    return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)


def sample_video_frames(
    data: bytes, n_frames: int = 4, allow_fake: bool = False
) -> list[np.ndarray]:
    """Video frame-sampler → n evenly-spaced frames.

    REAL for concatenated-PNM streams (the netpbm / ffmpeg image2pipe ppm
    format — functions/image.py:pnm_stream_decode) and for animated GIF
    (functions/png_gif.py:gif_sample_frames — LZW-compressed frames with
    full GIF89a sub-rect/transparency/disposal compositing; independent
    full-canvas frames are sampled lazily without decoding the rest).
    Other compressed containers (mp4/webm/...) need PyAV/ffmpeg, absent
    from this container, and raise — unless ``allow_fake=True``
    (deterministic fake frames for plumbing tests).
    """
    from file_deduplicator_spark.functions.image import sample_stream_frames
    from file_deduplicator_spark.functions.mp4 import mp4_sample_frames
    from file_deduplicator_spark.functions.png_gif import gif_sample_frames

    data = bytes(data)
    try:
        # corrupt GIF payloads degrade the same way every other payload
        # does (allow_fake fallback / NotImplementedError), rather than
        # leaking a ValueError from inside the LZW walk
        if data[4:8] == b"ftyp":
            # ISO-BMFF: lazy sample-table walk; MJPEG decodes for real,
            # predictive codecs (avc1/hev1/...) gate inside
            return mp4_sample_frames(data, n_frames)
        if data[:4] == b"GIF8":
            return gif_sample_frames(data, n_frames)
        return sample_stream_frames(data, n_frames)
    except NotImplementedError:
        if not allow_fake:
            raise
    except ValueError:
        if not allow_fake:
            raise NotImplementedError(
                "compressed video decode requires PyAV/ffmpeg (not in "
                "container); supported real formats: concatenated-PNM "
                "stream, animated GIF, MJPEG/mp4 - or pass allow_fake=True "
                "for the deterministic test fake"
            )
    return [decode_image(data + bytes([i]), allow_fake=True) for i in range(n_frames)]


def resize_gray(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Grayscale + nearest-neighbor resize (numpy only) — the feature-prep
    analog of the reference's Catmull-Rom resize (perceptual.go:303-312)."""
    gray = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    ys = np.clip((np.arange(out_h) + 0.5) * gray.shape[0] / out_h, 0, gray.shape[0] - 1).astype(int)
    xs = np.clip((np.arange(out_w) + 0.5) * gray.shape[1] / out_w, 0, gray.shape[1] - 1).astype(int)
    return gray[np.ix_(ys, xs)]


def _image_features(img: np.ndarray) -> np.ndarray:
    g = resize_gray(img, 8, 8).reshape(-1)
    rng = g.max() - g.min()
    return ((g - g.min()) / rng if rng > 0 else g * 0).astype(np.float32)


def _audio_features(data: bytes) -> tuple[np.ndarray, int]:
    from file_deduplicator_spark.functions.audio import (
        audio_decode,
        energy_envelope,
        preprocess,
    )

    pcm, _sr = audio_decode(data)
    env = energy_envelope(preprocess(pcm), FEATURE_DIM)
    return env.astype(np.float32), pcm.size


# ---------------------------------------------------------------------------
# the mapInPandas operator
# ---------------------------------------------------------------------------


def extract_media_features(
    df: DataFrame,
    id_col: str = "media_id",
    bytes_col: str = "bytes",
    kind_col: str = "kind",
    allow_fake: bool = False,
) -> DataFrame:
    """(id, kind, bytes) → per-item feature rows.

    kind ∈ {audio, image, video}. Failures (bad payloads, stubbed codecs
    without allow_fake) yield ok=false rows — never task failures, mirroring
    the reference's per-file error fallback (main.go:666-674).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, data in zip(pdf[id_col], pdf[kind_col], pdf[bytes_col]):
                row = {
                    "media_id": mid, "kind": kind, "ok": False,
                    "width": None, "height": None, "n_frames": None,
                    "n_samples": None, "features": None,
                }
                try:
                    raw = bytes(data)
                    if kind == "audio":
                        feats, n = _audio_features(raw)
                        row.update(ok=True, n_samples=n, features=feats.tolist())
                    elif kind == "image":
                        img = decode_image(raw, allow_fake=allow_fake)
                        row.update(
                            ok=True, height=img.shape[0], width=img.shape[1],
                            features=_image_features(img).tolist(),
                        )
                    elif kind == "video":
                        frames = sample_video_frames(raw, allow_fake=allow_fake)
                        f = np.mean([_image_features(fr) for fr in frames], axis=0)
                        row.update(
                            ok=True, n_frames=len(frames),
                            height=frames[0].shape[0], width=frames[0].shape[1],
                            features=f.astype(np.float32).tolist(),
                        )
                except Exception:
                    pass
                out.append(row)
            yield pd.DataFrame(out)

    # project ONLY the needed columns into the Python stage (column pruning
    # for the Arrow transfer), then mapInPandas with a declared schema
    slim = df.select(
        df[id_col].alias(id_col), df[kind_col].alias(kind_col), df[bytes_col].alias(bytes_col)
    )
    return slim.mapInPandas(run, schema=MEDIA_FEATURE_SCHEMA)


def image_near_dup_pairs(
    df: DataFrame,
    cfg=None,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    algo: str = "dhash",
    threshold: int | None = None,
    observation=None,
) -> DataFrame:
    """Image near-duplicate pairs end-to-end in Spark: perceptual signatures
    (REAL decode + the reference's preprocessing, functions/image.py) → the
    SAME banded SimHash LSH + fused in-bucket Hamming verify the audio path
    uses (operators/lsh.bucket_pairs with hamming_within — capped buckets,
    hot-bucket salting, skew metrics). The Spark-first generalization of
    findPerceptualDuplicates (main.go:868-902), which compares all pairs.

    ``threshold`` defaults to the reference's AdaptiveThreshold(algo,
    strictness) via cfg (config.py:24)."""
    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.functions.minhash_sql import simhash_bands_col
    from file_deduplicator_spark.functions.udfs import make_image_sig_udf
    from file_deduplicator_spark.operators.lsh import band_table, bucket_pairs, hamming_within

    cfg = cfg or DedupConfig(sim_algo=algo)
    t = threshold if threshold is not None else cfg.effective_threshold
    sigs = df.select(
        df[id_col].alias(id_col),
        make_image_sig_udf(algo)(df[bytes_col]).alias("sim_sig"),
    ).filter(F.col("sim_sig").isNotNull())
    bands = band_table(
        sigs,
        simhash_bands_col(F.col("sim_sig")),
        id_col,
        payload={"sig": "sim_sig"},
    )
    return bucket_pairs(bands, cfg, hamming_within(t), observation=observation)


# ---------------------------------------------------------------------------
# Corpus probe: container/codec metadata for opaque binary columns
# ---------------------------------------------------------------------------

MEDIA_PROBE_SCHEMA = (
    "media_id string, container string, codec string, kind string, "
    "sr_hz int, channels int, dur_ms long, width int, height int, "
    "decodable boolean, ok boolean"
)

_WAV_FMT_NAMES = {1: "pcm", 2: "adpcm_ms", 3: "pcm_float", 6: "pcm_alaw",
                  7: "pcm_mulaw", 0x11: "adpcm_ima"}


def _probe_one(raw: bytes) -> dict:
    """Sniff one payload's container and read ONLY header-level metadata —
    never a sample payload. The 100 TB scan-side question is 'what is in
    this bucket and can the engine decode it', answered per row without
    decode cost; gated codecs (Opus/Vorbis, lossy VP8, avc1/mp4a) report
    decodable=false instead of raising."""
    import struct

    head4 = raw[:4]
    if head4 == b"RIFF" and raw[8:12] == b"WAVE":
        from file_deduplicator_spark.functions.audio import wav_probe_fmt

        fmt_code, channels, sr, block_align, bits, dlen = wav_probe_fmt(raw)
        codec = _WAV_FMT_NAMES.get(fmt_code, f"wav_fmt_{fmt_code}")
        if fmt_code == 1:
            codec = {8: "pcm_u8", 16: "pcm_s16le", 24: "pcm_s24le",
                     32: "pcm_s32le"}.get(bits, f"pcm_{bits}")
            n = dlen // max(bits // 8, 1)
        elif fmt_code == 3:
            n = dlen // max(bits // 8, 4)
        elif fmt_code in (6, 7):
            n = dlen
        elif fmt_code == 0x11 and block_align >= 8:
            n = (dlen // block_align) * ((block_align - 4) * 2 + 1)
        elif fmt_code == 2 and block_align >= 10:
            n = (dlen // block_align) * ((block_align - 7) * 2 + 2)
        else:
            n = 0
        n //= max(channels, 1)
        # decodable must mirror the decode paths EXACTLY (mono-only,
        # supported depth, and a block_align the block codecs accept)
        decodable = (channels == 1
                     and fmt_code in _WAV_FMT_NAMES
                     and (fmt_code != 1 or bits in (8, 16, 24, 32))
                     and (fmt_code != 3 or bits in (32, 64))
                     and (fmt_code != 0x11 or block_align >= 8)
                     and (fmt_code != 2 or block_align >= 10))
        return {"container": "wav", "codec": codec, "kind": "audio",
                "sr_hz": sr, "channels": channels,
                "dur_ms": int(n * 1000 / sr) if sr and n else None,
                "decodable": decodable}
    if head4 == b"FORM" and raw[8:12] == b"AIFF":
        pos, n = 12, len(raw)
        while pos + 8 <= n:
            cid = raw[pos:pos + 4]
            (clen,) = struct.unpack_from(">I", raw, pos + 4)
            if cid == b"COMM":
                from file_deduplicator_spark.functions.pcm_codecs import _f80_decode

                ch, frames, bits = struct.unpack_from(">hIh", raw, pos + 8)
                sr = _f80_decode(raw[pos + 16:pos + 26])
                return {"container": "aiff", "codec": f"pcm_s{bits}be",
                        "kind": "audio", "sr_hz": sr, "channels": ch,
                        "dur_ms": int(frames * 1000 / sr) if sr else None,
                        "decodable": ch == 1 and bits in (8, 16, 24, 32)}
            pos += 8 + clen + (clen & 1)
        raise ValueError("aiff: no COMM chunk")
    if head4 == b"fLaC":
        from file_deduplicator_spark.functions.flac import flac_parse_streaminfo

        si = flac_parse_streaminfo(raw)
        sr = si["sample_rate"]
        total = si["total_samples"]  # 0 = legal "unknown length"
        return {"container": "flac", "codec": "flac", "kind": "audio",
                "sr_hz": sr, "channels": si["channels"],
                "dur_ms": int(total * 1000 / sr) if sr and total else None,
                "decodable": si["channels"] in (1, 2)
                and si["bits_per_sample"] <= 32}
    if raw[4:8] == b"ftyp":
        from file_deduplicator_spark.functions.mp4 import mp4_probe

        mp = mp4_probe(raw)
        tr = (sorted(mp["tracks"], key=lambda t: t["kind"] != "video")
              or [None])[0]
        if tr is None:
            raise ValueError("mp4: no tracks")
        # decodable mirrors the decode gates exactly: _MJPEG = {"jpeg"}
        # for video (mp4.py:264), sowt/twos 16-bit mono raw PCM for audio
        # (mp4_audio_decode rejects 8-bit 'twos' and multichannel tracks)
        dec = tr["codec"] in ("jpeg", "sowt", "twos")
        if tr["kind"] == "audio":
            dec = dec and tr.get("sample_size", 16) == 16 \
                and tr.get("channels", 1) == 1
        return {"container": "mp4", "codec": tr["codec"], "kind": tr["kind"],
                "sr_hz": tr.get("sr_hz"), "channels": tr.get("channels"),
                "width": tr.get("width"), "height": tr.get("height"),
                "dur_ms": tr["duration_ms"],
                "decodable": dec}
    if head4 == b"OggS":
        from file_deduplicator_spark.functions.ogg import ogg_probe

        og = ogg_probe(raw)
        return {"container": "ogg", "codec": og["codec"], "kind": "audio",
                "sr_hz": og["sr_hz"], "channels": og["channels"],
                "dur_ms": og["dur_ms"], "decodable": False}  # gated codecs
    dims = _image_header_dims(raw)
    if dims is not None:
        container, w, h = dims
        return {"container": container, "codec": container, "kind": "image",
                "width": w, "height": h,
                "decodable": container != "webp_vp8"}
    raise ValueError("unknown container magic")


def _image_header_dims(raw: bytes):
    """(container, width, height) from header bytes only, or None."""
    import struct

    if raw[:8] == b"\x89PNG\r\n\x1a\n" and len(raw) >= 24:
        w, h = struct.unpack_from(">II", raw, 16)
        return "png", w, h
    if raw[:6] in (b"GIF87a", b"GIF89a") and len(raw) >= 10:
        w, h = struct.unpack_from("<HH", raw, 6)
        return "gif", w, h
    if raw[:2] == b"BM" and len(raw) >= 26:
        w, h = struct.unpack_from("<ii", raw, 18)
        return "bmp", w, abs(h)
    if raw[:2] in (b"P5", b"P6") and len(raw) > 2 and raw[2:3].isspace():
        from file_deduplicator_spark.functions.image import _pnm_header

        try:
            _, w, h, _, _ = _pnm_header(raw)
            return ("ppm" if raw[:2] == b"P6" else "pgm"), w, h
        except Exception:
            return None
    if raw[:2] == b"\xff\xd8":  # JPEG: scan for the frame header (SOFn)
        pos, n = 2, len(raw)
        while pos + 4 <= n and raw[pos] == 0xFF:
            marker = raw[pos + 1]
            if marker == 0xFF:  # legal fill byte — advance one, not two
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seg,) = struct.unpack_from(">H", raw, pos + 2)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack_from(">HH", raw, pos + 5)
                return "jpeg", w, h
            pos += 2 + seg
        return None
    if raw[:4] == b"RIFF" and raw[8:12] == b"WEBP" and len(raw) >= 30:
        # walk the RIFF chunks: VP8L may sit directly OR nested inside a
        # VP8X extended container (webp_decode supports both)
        pos, n = 12, len(raw)
        vp8x_dims = None
        while pos + 8 <= n:
            cid = raw[pos:pos + 4]
            (clen,) = struct.unpack_from("<I", raw, pos + 4)
            if cid == b"VP8L" and pos + 9 <= n and raw[pos + 8] == 0x2F:
                bits = struct.unpack_from("<I", raw, pos + 9)[0]
                return ("webp_vp8l", (bits & 0x3FFF) + 1,
                        ((bits >> 14) & 0x3FFF) + 1)
            if cid == b"VP8X" and pos + 18 <= n:
                w = 1 + int.from_bytes(raw[pos + 12:pos + 15], "little")
                h = 1 + int.from_bytes(raw[pos + 15:pos + 18], "little")
                vp8x_dims = (w, h)
            pos += 8 + clen + (clen & 1)
        # no VP8L chunk anywhere → lossy VP8 (decode gated); canvas size
        # still reported when a VP8X header carried it
        w, h = vp8x_dims if vp8x_dims else (None, None)
        return "webp_vp8", w, h
    return None


def probe_media(
    df,
    id_col: str = "media_id",
    bytes_col: str = "bytes",
):
    """(id, bytes) → one metadata row per payload (MEDIA_PROBE_SCHEMA).

    Header-only reads per row; malformed payloads yield ok=false rows,
    never task failures (main.go:666-674). Column-pruned Arrow transfer
    like extract_media_features."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf[id_col], pdf[bytes_col]):
                row = {"media_id": mid, "container": None, "codec": None,
                       "kind": None, "sr_hz": None, "channels": None,
                       "dur_ms": None, "width": None, "height": None,
                       "decodable": None, "ok": False}
                try:
                    row.update(_probe_one(bytes(data)))
                    row["ok"] = True
                except Exception:
                    pass
                out.append(row)
            yield pd.DataFrame(out)

    slim = df.select(df[id_col].alias(id_col), df[bytes_col].alias(bytes_col))
    return slim.mapInPandas(run, schema=MEDIA_PROBE_SCHEMA)
