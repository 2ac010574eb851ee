"""Ogg container walker (Opus / Vorbis / OggFLAC) — metadata without decode.

The corpus-probe analog of the mp4 walker (functions/mp4.py): an Ogg
payload's codec, sample rate, channel count and duration are all
determined by the FIRST packet's id header plus the LAST page's granule
position — none of it needs the (honestly gated) audio decode. Pages are
walked header-to-header: each page header carries its segment table, so
the walk skips payload bytes entirely and touches O(n_pages · 28 B) of a
multi-MB clip.

Opus (RFC 7845): id packet magic ``OpusHead``; granulepos counts 48 kHz
samples regardless of the input rate; pre-skip samples are subtracted.
Vorbis (Xiph spec): id packet ``\\x01vorbis``; granulepos counts PCM
frames at the id header's rate. OggFLAC (``\\x7fFLAC``): STREAMINFO is
embedded in the first packet.

Decode stays gated (``ogg_decode`` raises NotImplementedError): Opus and
Vorbis are full transform codecs; the degradation contract upstream maps
the raise to ok=false / null-signature rows (main.go:666-674).
"""

from __future__ import annotations

import struct

_OGG_MAGIC = b"OggS"


def ogg_page_headers(buf):
    """Yield (granulepos, serial, header_type, payload_off, payload_len)
    per page, reading ONLY the 27-byte header + segment table of each."""
    pos, n = 0, len(buf)
    while pos + 27 <= n:
        if bytes(buf[pos:pos + 4]) != _OGG_MAGIC:
            raise ValueError("bad ogg page capture pattern")
        version = buf[pos + 4]
        if version != 0:
            raise ValueError(f"unsupported ogg version {version}")
        header_type = buf[pos + 5]
        (granule,) = struct.unpack_from("<q", buf, pos + 6)
        (serial,) = struct.unpack_from("<I", buf, pos + 14)
        nsegs = buf[pos + 26]
        seg_table = bytes(buf[pos + 27:pos + 27 + nsegs])
        if len(seg_table) < nsegs:
            raise ValueError("truncated ogg segment table")
        payload_len = sum(seg_table)
        payload_off = pos + 27 + nsegs
        if payload_off + payload_len > n:
            raise ValueError("truncated ogg page payload")
        yield granule, serial, header_type, payload_off, payload_len
        pos = payload_off + payload_len


def ogg_probe(buf) -> dict:
    """→ {codec, sr_hz, channels, dur_ms, pages}. Raises ValueError on a
    malformed stream (caller → ok=false row)."""
    buf = bytes(buf)
    first_payload = None
    last_granule = 0
    pages = 0
    serial0 = None
    for granule, serial, _ht, off, ln in ogg_page_headers(buf):
        pages += 1
        if first_payload is None:
            first_payload = buf[off:off + ln]
            serial0 = serial
        if serial == serial0 and granule > last_granule:
            last_granule = granule
    if first_payload is None:
        raise ValueError("no ogg pages")
    codec, sr, channels, pre_skip, gran_rate = _parse_id_packet(first_payload)
    dur_ms = None
    if last_granule > 0 and gran_rate:
        dur_ms = int(round(max(last_granule - pre_skip, 0) * 1000.0 / gran_rate))
    return {
        "codec": codec,
        "sr_hz": sr,
        "channels": channels,
        "dur_ms": dur_ms,
        "pages": pages,
    }


def _parse_id_packet(p: bytes):
    """→ (codec, sr_hz, channels, pre_skip, granule_rate)."""
    if p.startswith(b"OpusHead") and len(p) >= 19:
        channels = p[9]
        (pre_skip,) = struct.unpack_from("<H", p, 10)
        (input_sr,) = struct.unpack_from("<I", p, 12)
        # Opus granulepos is ALWAYS 48 kHz samples (RFC 7845 §4)
        return "opus", int(input_sr), int(channels), int(pre_skip), 48000
    if p.startswith(b"\x01vorbis") and len(p) >= 30:
        channels = p[11]
        (rate,) = struct.unpack_from("<I", p, 12)
        return "vorbis", int(rate), int(channels), 0, int(rate)
    if p.startswith(b"\x7fFLAC") and len(p) >= 51:
        # OggFLAC mapping packet: 0x7F 'FLAC' major minor count(2) = 9
        # bytes, then the native fLaC marker (4) and the STREAMINFO
        # block header (4); body starts at 17 (sr in body bits 80..99)
        si = p[17:]
        sr = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
        channels = ((si[12] >> 1) & 0x07) + 1
        return "flac", int(sr), int(channels), 0, int(sr)
    raise ValueError("unknown ogg codec id packet")


def ogg_decode(buf):
    """Gated: Opus/Vorbis are full transform codecs (no codec libs in this
    environment). Metadata comes from ogg_probe; decode raises so the
    caller degrades per the null-signature contract."""
    probe = ogg_probe(buf)
    raise NotImplementedError(
        f"ogg {probe['codec']} decode requires a codec library; "
        "container metadata available via ogg_probe"
    )


# --- test-grade muxer --------------------------------------------------------

_CRC_TABLE = None


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC: CRC-32, poly 0x04C11DB7, init 0, no reflection."""
    global _CRC_TABLE
    if _CRC_TABLE is None:
        tbl = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if (r & 0x80000000) else (r << 1)
                r &= 0xFFFFFFFF
            tbl.append(r)
        _CRC_TABLE = tbl
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def ogg_mux_page(payload: bytes, granule: int, serial: int = 1,
                 seqno: int = 0, header_type: int = 0) -> bytes:
    """One Ogg page around one packet (test fixtures; packets ≤ 255·255 B)."""
    segs = []
    rest = len(payload)
    while rest >= 255:
        segs.append(255)
        rest -= 255
    segs.append(rest)  # final lacing value < 255 terminates the packet
    hdr = (_OGG_MAGIC + bytes([0, header_type])
           + struct.pack("<qII", granule, serial, seqno))
    page_wo_crc = hdr + b"\x00\x00\x00\x00" + bytes([len(segs)]) + bytes(segs) + payload
    crc = _ogg_crc(page_wo_crc)
    return (hdr + struct.pack("<I", crc) + bytes([len(segs)]) + bytes(segs)
            + payload)


def opus_head(sr_hz: int = 16000, channels: int = 1, pre_skip: int = 312) -> bytes:
    return (b"OpusHead" + bytes([1, channels]) + struct.pack("<H", pre_skip)
            + struct.pack("<I", sr_hz) + struct.pack("<h", 0) + b"\x00")
