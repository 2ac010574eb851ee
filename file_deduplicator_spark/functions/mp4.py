"""Dependency-free ISO-BMFF (MP4 / QuickTime .mov) container support.

The reference has no video path at all (its registry is Go's image stdlib,
perceptual.go:4-14). Here an mp4 payload in the clips table signs through
``audio.sig_from_mp4_bytes``: a Motion-JPEG video track through the image
perceptual chain on its first frame, a raw-PCM audio track through the
audio envelope kernel. ``--probe`` reads its metadata with ``mp4_probe``.
The box walk + sample tables yield a per-sample (offset, size, dts,
keyframe) index WITHOUT touching sample payloads, so a frame sample reads
only the samples it decodes.

What decodes for real (codecs this repo already implements from scratch):

* video ``jpeg`` sample entries (Motion-JPEG) → functions/jpeg.py
* audio ``sowt`` / ``twos`` sample entries (raw s16 PCM, LE/BE mono)

Everything else (avc1/hev1/vp09/av01 video, mp4a AAC audio, ...) raises
NotImplementedError with the honest-gate message; the signature stage turns
it into a null signature (the per-file fallback of main.go:666-674).

The writer is a minimal deterministic muxer (test grade, like the PNM/GIF/
WebP/FLAC encoders): creation/modification times fixed at 0 (the 1904
epoch) per the repo determinism rule (SURVEY §7.3).

Spec: ISO/IEC 14496-12 (public); the QuickTime File Format documentation
describes the same box layouts.
"""

from __future__ import annotations

import struct

import numpy as np

_CONTAINERS = {
    b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"dinf",
    b"udta", b"mvex",
}

_GATED_VIDEO = "mp4 video codec %r requires a codec library (not in "\
    "container); supported real mp4 video: 'jpeg' (Motion-JPEG) sample "\
    "entries"
_GATED_AUDIO = "mp4 audio codec %r requires a codec library (not in "\
    "container); supported real mp4 audio: 'sowt'/'twos' (raw s16 PCM)"


def is_mp4(buf) -> bool:
    return len(buf) >= 12 and bytes(buf[4:8]) == b"ftyp"


def _boxes(buf, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the sibling boxes in
    [start, end). Unknown boxes are yielded too (callers skip them)."""
    pos = start
    while pos + 8 <= end:
        size, typ = struct.unpack_from(">I4s", buf, pos)
        hdr = 8
        if size == 1:
            (size,) = struct.unpack_from(">Q", buf, pos + 8)
            hdr = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("malformed ISO-BMFF box")
        yield typ, pos + hdr, pos + size
        pos += size


def _find(buf, start, end, typ):
    for t, s, e in _boxes(buf, start, end):
        if t == typ:
            return s, e
    return None


def _full(buf, s: int) -> tuple[int, int]:
    """FullBox header → (version, payload_start)."""
    return buf[s], s + 4


# ---------------------------------------------------------------------------
# sample tables
# ---------------------------------------------------------------------------


def _parse_stbl(buf, s: int, e: int) -> dict:
    out: dict = {"sync": None}
    for t, bs, be in _boxes(buf, s, e):
        if t == b"stsd":
            _, p = _full(buf, bs)
            (count,) = struct.unpack_from(">I", buf, p)
            p += 4
            # A sample-description box holds a handful of entries; a count
            # anywhere near the box size means a corrupt file. Bounding it
            # (and requiring forward progress) keeps a malformed payload from
            # spinning ~2^32 iterations inside a worker, which the upstream
            # try/except degradation contract could not interrupt.
            if count > (be - p) // 8:
                raise ValueError(f"stsd entry count {count} exceeds box capacity")
            entries = []
            for _ in range(count):
                esize, fourcc = struct.unpack_from(">I4s", buf, p)
                if esize < 8 or p + esize > be:
                    raise ValueError(f"stsd entry size {esize} out of bounds")
                entries.append((fourcc.decode("latin1"), p + 8, p + esize))
                p += esize
            out["stsd"] = entries
        elif t == b"stts":
            _, p = _full(buf, bs)
            (count,) = struct.unpack_from(">I", buf, p)
            arr = np.frombuffer(buf, dtype=">u4", count=2 * count,
                                offset=p + 4).reshape(count, 2)
            out["stts"] = arr.astype(np.int64)
        elif t == b"stsc":
            _, p = _full(buf, bs)
            (count,) = struct.unpack_from(">I", buf, p)
            arr = np.frombuffer(buf, dtype=">u4", count=3 * count,
                                offset=p + 4).reshape(count, 3)
            out["stsc"] = arr.astype(np.int64)
        elif t == b"stsz":
            _, p = _full(buf, bs)
            fixed, count = struct.unpack_from(">II", buf, p)
            if fixed:
                sizes = np.full(count, fixed, dtype=np.int64)
            else:
                sizes = np.frombuffer(buf, dtype=">u4", count=count,
                                      offset=p + 8).astype(np.int64)
            out["sizes"] = sizes
        elif t == b"stco":
            _, p = _full(buf, bs)
            (count,) = struct.unpack_from(">I", buf, p)
            out["chunk_offsets"] = np.frombuffer(
                buf, dtype=">u4", count=count, offset=p + 4).astype(np.int64)
        elif t == b"co64":
            _, p = _full(buf, bs)
            (count,) = struct.unpack_from(">I", buf, p)
            out["chunk_offsets"] = np.frombuffer(
                buf, dtype=">u8", count=count, offset=p + 4).astype(np.int64)
        elif t == b"stss":
            _, p = _full(buf, bs)
            (count,) = struct.unpack_from(">I", buf, p)
            out["sync"] = np.frombuffer(
                buf, dtype=">u4", count=count, offset=p + 4).astype(np.int64)
    for req in ("stsd", "stts", "stsc", "sizes", "chunk_offsets"):
        if req not in out:
            raise ValueError(f"sample table missing {req}")
    return out


def _sample_offsets(stsc: np.ndarray, chunk_offsets: np.ndarray,
                    sizes: np.ndarray) -> np.ndarray:
    """Absolute file offset per sample from the chunk map. Loop is over
    CHUNKS (the metadata), never over payload bytes."""
    n = sizes.size
    offs = np.empty(n, dtype=np.int64)
    si = 0
    n_chunks = chunk_offsets.size
    for ei in range(stsc.shape[0]):
        first, spc = int(stsc[ei, 0]), int(stsc[ei, 1])
        last = int(stsc[ei + 1, 0]) - 1 if ei + 1 < stsc.shape[0] else n_chunks
        if first < 1 or last > n_chunks:
            raise ValueError("chunk map references chunks beyond stco")
        for c in range(first, last + 1):
            take = min(spc, n - si)
            if take <= 0:
                break
            run = sizes[si:si + take]
            offs[si:si + take] = chunk_offsets[c - 1] + (
                np.concatenate(([0], np.cumsum(run[:-1]))))
            si += take
    if si != n:
        raise ValueError("chunk map covers fewer samples than stsz")
    return offs


def _parse_trak(buf, s: int, e: int) -> dict | None:
    mdia = _find(buf, s, e, b"mdia")
    if mdia is None:
        return None
    hdlr = _find(buf, *mdia, b"hdlr")
    mdhd = _find(buf, *mdia, b"mdhd")
    minf = _find(buf, *mdia, b"minf")
    if hdlr is None or mdhd is None or minf is None:
        return None
    handler = bytes(buf[hdlr[0] + 8:hdlr[0] + 12]).decode("latin1")
    v, p = _full(buf, mdhd[0])
    if v == 1:
        timescale, duration = struct.unpack_from(">IQ", buf, p + 16)
    else:
        timescale, duration = struct.unpack_from(">II", buf, p + 8)
    stbl = _find(buf, *minf, b"stbl")
    if stbl is None:
        return None
    tbl = _parse_stbl(buf, *stbl)
    codec, es, ee = tbl["stsd"][0]
    track = {
        "handler": handler,
        "codec": codec,
        "timescale": int(timescale),
        "duration": int(duration),
        "sizes": tbl["sizes"],
        "offsets": _sample_offsets(tbl["stsc"], tbl["chunk_offsets"],
                                   tbl["sizes"]),
        "sync": tbl["sync"],  # 1-based sample numbers, or None = all sync
        "stts": tbl["stts"],
    }
    # sample-entry detail: 6 reserved bytes + data_reference_index(2) first
    if handler == "vide" and ee - es >= 78:
        w, h = struct.unpack_from(">HH", buf, es + 8 + 16)
        track["width"], track["height"] = int(w), int(h)
    elif handler == "soun" and ee - es >= 28:
        ch, ss = struct.unpack_from(">HH", buf, es + 8 + 8)
        (sr_fixed,) = struct.unpack_from(">I", buf, es + 8 + 16)
        track.update(channels=int(ch), sample_size=int(ss),
                     sr_hz=int(sr_fixed >> 16))
    return track


def parse_tracks(buf) -> list[dict]:
    buf = bytes(buf)
    if not is_mp4(buf):
        raise ValueError("not an ISO-BMFF buffer (no ftyp)")
    moov = _find(buf, 0, len(buf), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    tracks = []
    for t, s, e in _boxes(buf, *moov):
        if t == b"trak":
            tr = _parse_trak(buf, s, e)
            if tr is not None:
                tracks.append(tr)
    return tracks


def mp4_probe(buf) -> dict:
    """Container metadata without touching any sample payload — the
    100 TB-scan-side operation (typed metadata for the multimodal
    columns, SURVEY §2.9)."""
    buf = bytes(buf)
    tracks = parse_tracks(buf)
    out = {"brand": buf[8:12].decode("latin1"), "tracks": []}
    for tr in tracks:
        info = {
            "kind": {"vide": "video", "soun": "audio"}.get(
                tr["handler"], tr["handler"]),
            "codec": tr["codec"],
            "n_samples": int(tr["sizes"].size),
            "duration_ms": int(tr["duration"] * 1000 // max(tr["timescale"], 1)),
        }
        for k in ("width", "height", "channels", "sr_hz", "sample_size"):
            if k in tr:
                info[k] = tr[k]
        out["tracks"].append(info)
    return out


def mp4_sample_spans(buf, handler: str = "vide"):
    """(offsets, sizes, sync_mask) for the first track of ``handler`` —
    the lazy index a frame sampler walks before deciding what to decode."""
    for tr in parse_tracks(buf):
        if tr["handler"] == handler:
            n = tr["sizes"].size
            if tr["sync"] is None:
                mask = np.ones(n, dtype=bool)
            else:
                mask = np.zeros(n, dtype=bool)
                mask[tr["sync"] - 1] = True
            return tr["offsets"], tr["sizes"], mask
    raise ValueError(f"no {handler!r} track")


_MJPEG = {"jpeg"}
_PCM_LE = {"sowt"}
_PCM_BE = {"twos"}


def mp4_sample_frames(buf, n_frames: int = 4) -> list[np.ndarray]:
    """n evenly-spaced decoded frames from the first video track.

    Lazy: only the selected samples are read and decoded. When the track
    has a sync-sample table (stss), selection is restricted to keyframes —
    for a predictive codec non-sync samples aren't independently decodable,
    and for MJPEG (every frame sync in practice) the restriction is a
    no-op. Indices are round(linspace) over the candidate pool, so
    ``n_frames=1`` picks the first candidate.
    """
    buf = bytes(buf)
    tracks = [t for t in parse_tracks(buf) if t["handler"] == "vide"]
    if not tracks:
        raise ValueError("no video track")
    tr = tracks[0]
    if tr["codec"] not in _MJPEG:
        raise NotImplementedError(_GATED_VIDEO % tr["codec"])
    from file_deduplicator_spark.functions.jpeg import jpeg_decode

    offs, sizes = tr["offsets"], tr["sizes"]
    pool = (np.arange(offs.size) if tr["sync"] is None
            else np.asarray(tr["sync"]) - 1)
    if pool.size == 0:
        raise ValueError("empty sample table")
    n_frames = max(1, min(n_frames, pool.size))
    # round(linspace) can collide on short tracks; dedup BEFORE decode and
    # top the selection back up with the unchosen indices nearest in order,
    # so pool.size >= n_frames always yields exactly n_frames frames.
    idx = np.unique(pool[np.linspace(0, pool.size - 1, n_frames)
                         .round().astype(int)])
    if idx.size < n_frames:
        rest = np.setdiff1d(pool, idx, assume_unique=False)
        idx = np.sort(np.concatenate([idx, rest[: n_frames - idx.size]]))
    return [jpeg_decode(buf[offs[i]:offs[i] + sizes[i]]) for i in idx]


def mp4_audio_decode(buf) -> tuple[np.ndarray, int]:
    """(int16 mono samples, sr_hz) from the first audio track. Raw PCM
    ('sowt' LE / 'twos' BE) decodes for real; compressed codecs gate
    honestly. Mono-only, matching the WAV contract (audio.wav_parse)."""
    buf = bytes(buf)
    tracks = [t for t in parse_tracks(buf) if t["handler"] == "soun"]
    if not tracks:
        raise ValueError("no audio track")
    tr = tracks[0]
    if tr["codec"] in _PCM_LE:
        dt = "<i2"
    elif tr["codec"] in _PCM_BE:
        dt = ">i2"
    else:
        raise NotImplementedError(_GATED_AUDIO % tr["codec"])
    # 'twos'/'sowt' are legal at 8 bits too (QuickTime spec) — decoding an
    # 8-bit track as int16 would silently produce a garbage signature
    # instead of the promised null-signature degradation.
    if tr.get("sample_size", 16) != 16:
        raise ValueError(
            f"unsupported PCM sample size {tr.get('sample_size')} bits")
    if tr.get("channels", 1) != 1:
        raise ValueError(f"unsupported channel count {tr.get('channels')}")
    # raw-PCM tracks: one "sample" per PCM frame — coalesce the per-sample
    # extents into contiguous runs (== chunks) vectorized; the python loop
    # is over RUNS, never samples (a 10 s 16 kHz clip has 160k samples)
    offs, sizes = tr["offsets"], tr["sizes"]
    if offs.size == 0:
        return np.zeros(0, dtype=np.int16), int(tr.get("sr_hz") or tr["timescale"])
    ends = offs + sizes
    brk = np.flatnonzero(offs[1:] != ends[:-1])
    starts = offs[np.concatenate(([0], brk + 1))]
    stops = ends[np.concatenate((brk, [offs.size - 1]))]
    parts = [buf[a:b] for a, b in zip(starts.tolist(), stops.tolist())]
    pcm = np.frombuffer(b"".join(parts), dtype=dt).astype(np.int16)
    sr = tr.get("sr_hz") or tr["timescale"]
    return pcm, int(sr)


# ---------------------------------------------------------------------------
# test-grade muxer (deterministic: all timestamps 0)
# ---------------------------------------------------------------------------


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + typ + payload


def _fbox(typ: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(typ, bytes([version]) + flags.to_bytes(3, "big") + payload)


_MATRIX = struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0,
                      0x40000000)


def _mvhd(timescale: int, duration: int) -> bytes:
    p = struct.pack(">IIII", 0, 0, timescale, duration)
    p += struct.pack(">iH", 0x00010000, 0x0100) + b"\0" * 10
    p += _MATRIX + b"\0" * 24 + struct.pack(">I", 2)
    return _fbox(b"mvhd", 0, 0, p)


def _tkhd(track_id: int, duration: int, w: int = 0, h: int = 0) -> bytes:
    p = struct.pack(">IIIII", 0, 0, track_id, 0, duration) + b"\0" * 8
    p += struct.pack(">hhhh", 0, 0, 0x0100 if not w else 0, 0)
    p += _MATRIX + struct.pack(">II", w << 16, h << 16)
    return _fbox(b"tkhd", 0, 7, p)


def _mdhd(timescale: int, duration: int) -> bytes:
    p = struct.pack(">IIII", 0, 0, timescale, duration)
    p += struct.pack(">HH", 0x55C4, 0)  # 'und'
    return _fbox(b"mdhd", 0, 0, p)


def _hdlr(handler: bytes, name: bytes) -> bytes:
    return _fbox(b"hdlr", 0, 0,
                 b"\0" * 4 + handler + b"\0" * 12 + name + b"\0")


def _dinf() -> bytes:
    return _box(b"dinf", _fbox(b"dref", 0, 0, struct.pack(">I", 1)
                               + _fbox(b"url ", 0, 1, b"")))


def _stbl_common(sizes: list[int], offsets: list[int], n_delta: int,
                 stsd_entry: bytes, stsc_runs: list[tuple[int, int]],
                 sync: list[int] | None) -> bytes:
    stsd = _fbox(b"stsd", 0, 0, struct.pack(">I", 1) + stsd_entry)
    stts = _fbox(b"stts", 0, 0, struct.pack(">III", 1, n_delta, 1))
    stsc = _fbox(b"stsc", 0, 0, struct.pack(">I", len(stsc_runs)) + b"".join(
        struct.pack(">III", fc, spc, 1) for fc, spc in stsc_runs))
    fixed = sizes[0] if len(set(sizes)) == 1 else 0
    stsz = _fbox(b"stsz", 0, 0, struct.pack(">II", fixed, len(sizes))
                 + (b"" if fixed else b"".join(struct.pack(">I", s)
                                               for s in sizes)))
    stco = _fbox(b"stco", 0, 0, struct.pack(">I", len(offsets)) + b"".join(
        struct.pack(">I", o) for o in offsets))
    body = stsd + stts + stsc + stsz + stco
    if sync is not None:
        body += _fbox(b"stss", 0, 0, struct.pack(">I", len(sync)) + b"".join(
            struct.pack(">I", s) for s in sync))
    return _box(b"stbl", body)


def _visual_entry(fourcc: bytes, w: int, h: int) -> bytes:
    p = b"\0" * 6 + struct.pack(">H", 1)           # reserved + dref index
    p += struct.pack(">HH", 0, 0) + b"\0" * 12     # pre_defined/reserved
    p += struct.pack(">HH", w, h)
    p += struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
    p += struct.pack(">I", 0) + struct.pack(">H", 1)  # reserved, frame_count
    p += bytes([5]) + b"mjpeg" + b"\0" * 26        # 32-byte pascal name
    p += struct.pack(">Hh", 24, -1)                # depth, pre_defined
    return _box(fourcc, p)


def _audio_entry(fourcc: bytes, sr: int, bits: int = 16) -> bytes:
    p = b"\0" * 6 + struct.pack(">H", 1)
    p += b"\0" * 8
    p += struct.pack(">HHHHI", 1, bits, 0, 0, sr << 16)
    return _box(fourcc, p)


def mp4_encode_mjpeg(frames, fps: int = 12, quality: int = 90,
                     sync_every: int = 1, codec: bytes = b"jpeg") -> bytes:
    """Deterministic MJPEG mp4. ``sync_every`` > 1 marks only every k-th
    sample in stss (exercises keyframe-restricted sampling); ``codec``
    lets tests author gated-fourcc files."""
    from file_deduplicator_spark.functions.jpeg import jpeg_encode

    payloads = [jpeg_encode(np.asarray(f, dtype=np.uint8), quality=quality)
                for f in frames]
    h, w = np.asarray(frames[0]).shape[:2]
    n = len(payloads)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    base = len(ftyp) + 8
    offsets, sizes, pos = [], [], base
    for pl in payloads:
        offsets.append(pos)
        sizes.append(len(pl))
        pos += len(pl)
    mdat = _box(b"mdat", b"".join(payloads))
    sync = None if sync_every <= 1 else list(range(1, n + 1, sync_every))
    # one sample per chunk → single stsc run (first_chunk 1, spc 1)
    stbl = _stbl_common(sizes, offsets, n, _visual_entry(codec, w, h),
                        [(1, 1)], sync)
    minf = _box(b"minf", _fbox(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
                + _dinf() + stbl)
    mdia = _box(b"mdia", _mdhd(fps, n) + _hdlr(b"vide", b"VideoHandler")
                + minf)
    trak = _box(b"trak", _tkhd(1, n * 600 // fps, w, h) + mdia)
    moov = _box(b"moov", _mvhd(600, n * 600 // fps) + trak)
    return ftyp + mdat + moov


def mp4_encode_pcm(s16: np.ndarray, sr: int, codec: bytes = b"sowt",
                   bits: int = 16) -> bytes:
    """Deterministic raw-PCM (mono s16) mp4 — one chunk, one sample per
    PCM frame (the QuickTime raw-audio convention). ``bits`` lets tests
    author the legal-but-gated 8-bit 'twos' layout."""
    s16 = np.asarray(s16, dtype=np.int16)
    raw = s16.astype("<i2" if codec == b"sowt" else ">i2").tobytes()
    n = s16.size
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"M4A mp42")
    base = len(ftyp) + 8
    mdat = _box(b"mdat", raw)
    stbl = _stbl_common([2] * n, [base], n, _audio_entry(codec, sr, bits),
                        [(1, n)], None)
    minf = _box(b"minf", _fbox(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
                + _dinf() + stbl)
    mdia = _box(b"mdia", _mdhd(sr, n) + _hdlr(b"soun", b"SoundHandler")
                + minf)
    trak = _box(b"trak", _tkhd(1, n * 600 // max(sr, 1)) + mdia)
    moov = _box(b"moov", _mvhd(600, n * 600 // max(sr, 1)) + trak)
    return ftyp + mdat + moov
