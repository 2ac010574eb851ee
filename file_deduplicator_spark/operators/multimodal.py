"""Corpus probe: container/codec metadata for opaque binary columns.

``probe_media`` (the job's ``--probe``) sniffs each payload's container and
reads only header-level metadata: container, codec, kind, sample rate,
channels, duration, image size, and whether the engine can decode it. It
runs through ``mapInPandas`` (per-partition Arrow batch iterator) with a
declared output schema and only the id and bytes columns projected in.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

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
    never task failures (main.go:666-674)."""

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
