"""Spark bindings for the per-row kernels — the engine's one signature stage.

Codec decode of a binary payload is not expressible in Catalyst, so the
signature stage (:func:`signatures_map_in_arrow`) is a ``mapInArrow`` pass
that computes both per-row kernels in Python: the perceptual SimHash of
``bytes`` and the numpy MinHash of ``transcript`` (``functions/text.py``).
The digest is computed JVM-side before it; banding, joins and windows
after it are Column expressions.

Batch-shape notes (SURVEY §7.3 "binary payloads through Arrow"):
* session sets ``spark.sql.execution.arrow.maxRecordsPerBatch`` low (512)
  so multi-MB clips don't blow the Arrow transfer;
* callers should project ONLY the columns they need into this stage —
  column pruning keeps the scanned footprint minimal;
* decode failure → null signature; the row remains exact-dedupable —
  mirrors the reference's per-file fallback (main.go:666-674).

Reference parity: computePerceptualHash dispatch perceptual.go:407-431.
"""

from __future__ import annotations

from pyspark.sql import types as T

from file_deduplicator_spark.functions.audio import SIG_FUNCS, sig_from_wav_bytes

# payload sniffing for the shared perceptual-signature channel (round-4,
# directive 8): image payloads (PPM/PGM/BMP/PNG/GIF/JPEG/WebP magics) take
# the reference's image perceptual chain, FLAC takes the lossless-audio
# decode, everything else the RIFF audio kernel. All emit 64-bit
# signatures, so the SimHash LSH topology — batch AND watch-state band
# indexes — serves every modality unchanged (the reference's watch mode
# checks pHash matches per arrival the same way, main.go:1874-1886). WAV
# payloads are bit-unaffected (a "RIFF" container is only an image when
# bytes 8-12 say WEBP), so no SIG_KERNEL_VERSION bump: pre-round-4 states
# simply carry null sigs for rows that were undecodable then and never
# false-match.
_IMAGE_MAGICS = (b"P6", b"P5", b"BM", b"\x89P", b"GI", b"\xff\xd8")


def media_sig_from_bytes(buf, algo: str = "dhash") -> int:
    """64-bit perceptual signature for an audio OR image payload (sniffed).
    Raises on undecodable buffers (caller → null signature)."""
    head2 = bytes(buf[:2])
    if head2 in _IMAGE_MAGICS or (
        bytes(buf[:4]) == b"RIFF" and bytes(buf[8:12]) == b"WEBP"
    ):
        from file_deduplicator_spark.functions.image import image_sig_from_bytes

        return image_sig_from_bytes(bytes(buf), algo)
    if bytes(buf[:4]) == b"fLaC":
        from file_deduplicator_spark.functions.audio import sig_from_flac_bytes

        return sig_from_flac_bytes(buf, algo)
    if bytes(buf[4:8]) == b"ftyp":
        from file_deduplicator_spark.functions.audio import sig_from_mp4_bytes

        return sig_from_mp4_bytes(buf, algo)
    if bytes(buf[:4]) == b"FORM" and bytes(buf[8:12]) == b"AIFF":
        from file_deduplicator_spark.functions.audio import sig_from_aiff_bytes

        return sig_from_aiff_bytes(buf, algo)
    return sig_from_wav_bytes(buf, algo)


def media_sig_or_none(buf, algo: str = "dhash") -> int | None:
    """The per-row decode contract of the signature stage: the payload's
    signature, or None when it fails to decode. The row stays
    exact-dedupable either way (main.go:666-674's per-file fallback)."""
    try:
        return media_sig_from_bytes(buf, algo)
    except Exception:  # decode failure → null sig
        return None


def signatures_map_in_arrow(df, algo: str, num_perm: int, shingle_k: int, seed: int,
                            bytes_col: str = "bytes", transcript_col: str = "transcript"):
    """ONE Arrow pass: ``bytes_col`` → perceptual SimHash (``sim_sig``,
    null on decode failure), ``transcript_col`` → MinHash (``minhash_sig``).
    Returns df with ``bytes_col`` REMOVED and the two signatures appended.
    When df has no ``bytes_col`` (perceptual matching off), the decode is
    skipped and every ``sim_sig`` is null.

    Why a consuming map and why Arrow (both measured): a pandas_udf
    projection (``ArrowEvalPython``) buffers every input row in a JVM-side
    queue to rejoin it with the UDF output — an extra UnsafeRow copy of the
    multi-MB payload plus queue spill, measured 3.5x ANTI-scaling from 8→32
    cores; a map stage's output REPLACES its input, so ``bytes`` crosses
    Arrow once and dies inside the worker. Among map stages, ``mapInPandas``
    materializes one Python ``bytes`` object per row — the dominant,
    non-scaling cost (pass-through on the 50k-clip fixture, 32 cores:
    mapInPandas 10.9s vs mapInArrow 2.0s; 8 cores 19.0s vs 11.4s). Here the
    payload stays in the Arrow buffer and each row is decoded through a
    zero-copy ``memoryview`` slice, kept columns pass through untouched, and
    the MinHash list column is built as one ``ListArray`` over a flat int64
    buffer. Scaling 8→32 cores goes from ~1.0x to ~3.5x on this stage.
    """
    import numpy as np
    import pyarrow as pa

    from file_deduplicator_spark.functions.text import (
        minhash_params,
        minhash_signatures_batch,
    )

    if algo not in SIG_FUNCS:
        algo = "dhash"
    a, b = minhash_params(num_perm, seed)
    decode = bytes_col in df.columns

    keep = [f for f in df.schema.fields if f.name != bytes_col]
    out_schema = T.StructType(
        keep
        + [
            T.StructField("sim_sig", T.LongType()),
            T.StructField("minhash_sig", T.ArrayType(T.LongType())),
        ]
    )
    keep_names = [f.name for f in keep]

    def run(batches):
        for rb in batches:
            n = rb.num_rows
            sim = [None] * n
            if decode and n:
                barr = rb.column(rb.schema.get_field_index(bytes_col))
                bufs = barr.buffers()
                off_item = np.int64 if pa.types.is_large_binary(barr.type) else np.int32
                offs = np.frombuffer(
                    bufs[1], dtype=off_item, count=n + 1,
                    offset=barr.offset * np.dtype(off_item).itemsize,
                )
                data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
                # Array.is_valid() takes no per-index argument — compute the
                # null mask once per batch (null bytes row → null signature)
                nulls = (
                    np.asarray(barr.is_null()) if barr.null_count > 0 else None
                )
                for i in range(n):
                    if nulls is None or not nulls[i]:
                        # fused kernel on the zero-copy memoryview slice —
                        # for s16 payloads no float PCM array is ever built
                        sim[i] = media_sig_or_none(data[offs[i]:offs[i + 1]], algo)
            texts = rb.column(rb.schema.get_field_index(transcript_col)).to_pylist()
            # batched across the RecordBatch: one affine/M61 product + one
            # segmented reduceat-min instead of ~20 numpy dispatches per row
            mh_vals = minhash_signatures_batch(texts, a, b, shingle_k)
            mh = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * num_perm, type=pa.int32()),
                pa.array(mh_vals.ravel(), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(rb.schema.get_field_index(c)) for c in keep_names]
                + [pa.array(sim, type=pa.int64()), mh],
                names=keep_names + ["sim_sig", "minhash_sig"],
            )

    return df.mapInArrow(run, schema=out_schema)

