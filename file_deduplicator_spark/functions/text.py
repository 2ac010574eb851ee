"""Text kernels: tokenization, shingling, MinHash — pure Python/numpy.

The MinHash kernels here ARE the production path: the Arrow signature stage
(``udfs.signatures_map_in_arrow``) calls ``minhash_signatures_batch`` once
per RecordBatch, and ``minhash_signature_py`` is its per-row reference.
Determinism: every hash here is seed-fixed — blake2b shingle base hashes,
affine permutations from ``minhash_params(num_perm, seed)``. The pipeline
runs them at the one format below (NUM_PERM, SHINGLE_K, MINHASH_SEED).

Also ``winnowed_fingerprints_batch``, the containment stage's candidate
kernel (``operators/containment.py``) — same tokenizer and shingle hash as
the MinHash — and ``token_count``: the Python form that
``operators/textops.py``'s ``token_count_col`` is tested against.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

_BLAKE2B = hashlib.blake2b

MERSENNE_61 = (1 << 61) - 1

# The pipeline's MinHash signature format. Recorded signature tables and
# watch state compare signatures across runs, so changing any of these
# changes what a stored signature means: bump audio.SIG_KERNEL_VERSION with it.
NUM_PERM = 64      # slots per signature
SHINGLE_K = 3      # words per shingle
MINHASH_SEED = 42  # seed of the affine permutations (minhash_params)

# Per-process scratch for the batched affine/M61 product (see
# minhash_signatures_batch). Grows geometrically, never shrinks.
_AFFINE_SCRATCH: dict = {}
HASH_MASK_31 = 0x7FFFFFFF  # fold base hashes into 31 bits → a*h+b never
                           # overflows int64 (a,b < 2^31)


def tokenize(text: str) -> list[str]:
    """Whitespace word split, lowercased. Unicode-safe (str-level ops only)."""
    return text.lower().split()


def shingles(text: str, k: int) -> list[str]:
    """k-word shingles joined by single spaces; < k words → one shingle of all."""
    return word_shingles(tokenize(text), k)


def word_shingles(words: list[str], k: int) -> list[str]:
    """``shingles`` over an already tokenized text."""
    if not words:
        return []
    if len(words) < k:
        return [" ".join(words)]
    return [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]


def minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic affine coefficients (a odd, in [1, 2^31); b in [0, 2^31))."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, HASH_MASK_31, size=num_perm, dtype=np.int64) | 1
    b = rng.randint(0, HASH_MASK_31, size=num_perm, dtype=np.int64)
    return a, b


def minhash_from_hashes(base31: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """sig[i] = min over shingles of (a_i * h + b_i) mod M61.

    ``base31`` are 31-bit-folded base hashes, so a_i*h < 2^62 — no overflow
    in int64 arithmetic.
    """
    if base31.size == 0:
        return np.full(a.size, MERSENNE_61 - 1, dtype=np.int64)
    prod = a[:, None] * base31[None, :] + b[:, None]
    return (prod % MERSENNE_61).min(axis=1)


def jaccard(text_a: str, text_b: str, k: int) -> float:
    sa, sb = set(shingles(text_a, k)), set(shingles(text_b, k))
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    union = len(sa | sb)
    return inter / union if union else 0.0


# ---------------------------------------------------------------------------
# Text-analysis kernels (oracle forms; Column versions in operators/textops.py)
# ---------------------------------------------------------------------------

# BPE-ish token regex: words, numbers, or single non-space symbols.
TOKEN_RE = re.compile(r"\w+|[^\w\s]")


def token_count(text: str) -> int:
    return len(TOKEN_RE.findall(text))


def shingle_base31(text: str, k: int) -> np.ndarray:
    """31-bit-folded blake2b base hashes of the k-word shingles — the input
    of the affine/M61 step (minhash_from_hashes)."""
    return _base31(shingles(text, k))


def _base31(shingle_list: list[str]) -> np.ndarray:
    _b2b, _fb = _BLAKE2B, int.from_bytes  # local binds: this is a hot loop
    out = [
        _fb(_b2b(s.encode("utf-8"), digest_size=8).digest(), "big") & HASH_MASK_31
        for s in shingle_list
    ]
    return np.asarray(out, dtype=np.int64)


def winnow_batch(hashes: list[np.ndarray], window: int) -> tuple[np.ndarray, np.ndarray]:
    """Distinct window-minimum fingerprints of each row's hash sequence, as
    flat ``(row, fp)`` arrays sorted by row, then fp.

    A row of 0 hashes gives nothing; a row of ``size <= window`` hashes one
    window, the min of all; a longer row ``size - window + 1`` windows. The
    sliding min runs once over the batch's concatenated hashes; windows
    that straddle two rows are never read. Hashes must be non-negative and
    < 2^31 (``shingle_base31``): each (row, fp) packs into one int64 key
    for the per-row distinct."""
    counts = np.fromiter((h.size for h in hashes), dtype=np.int64, count=len(hashes))
    if not counts.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    allh = np.concatenate([h for h in hashes if h.size]).astype(np.int64, copy=False)
    offs = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=offs[1:])
    # short rows: one window, the min of the whole row (reduceat over every
    # non-empty row's start, so each segment ends where its row does)
    nz = counts > 0
    short = nz & (counts <= window)
    short_fp = np.minimum.reduceat(allh, offs[nz])[short[nz]]
    # long rows: window starts off .. off + count - window
    long_ = counts > window
    n_win = counts[long_] - window + 1
    if n_win.size:
        mins = np.lib.stride_tricks.sliding_window_view(allh, window).min(axis=1)
        first = np.repeat(offs[long_] - np.cumsum(n_win) + n_win, n_win)
        long_fp = mins[first + np.arange(first.size, dtype=np.int64)]
    else:
        long_fp = allh[:0]
    key = np.unique(np.concatenate([
        (np.flatnonzero(short) << 31) | short_fp,
        (np.repeat(np.flatnonzero(long_), n_win) << 31) | long_fp,
    ]))
    return key >> 31, key & HASH_MASK_31


def winnowed_fingerprints_batch(
    texts, k: int, window: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Containment candidates for a batch of texts: ``(n_words, row, fp)``.

    ``n_words`` has one entry per text (its ``tokenize`` word count);
    ``row``/``fp`` are ``winnow_batch`` over each text's ``shingle_base31``
    hashes. None rows count as empty text: 0 words, no fingerprints."""
    words = [tokenize(t) if t is not None else [] for t in texts]
    n_words = np.fromiter((len(w) for w in words), dtype=np.int32, count=len(words))
    row, fp = winnow_batch([_base31(word_shingles(w, k)) for w in words], window)
    return n_words, row, fp


def minhash_signature_py(text: str, a: np.ndarray, b: np.ndarray, k: int) -> np.ndarray:
    """Full Python MinHash signature (blake2b base hashes + affine/M61)."""
    return minhash_from_hashes(shingle_base31(text, k), a, b)


def minhash_signatures_batch(
    texts, a: np.ndarray, b: np.ndarray, k: int
) -> np.ndarray:
    """MinHash signatures for a whole batch of texts → (n_rows, num_perm).

    Value-identical to stacking ``minhash_signature_py`` per row (same
    int64 a·h+b mod M61 arithmetic, pytest-pinned), but the affine/M61
    product runs ONCE over the batch's concatenated shingle hashes and the
    per-row min becomes a segmented ``np.minimum.reduceat`` — ~20 numpy
    dispatches per ROW become ~6 per BATCH (measured 108 → ~25 µs/row on
    the bench fixture's 18-word transcripts; the remaining cost is the
    per-shingle blake2b base hash, which the signature values depend on).
    None rows hash as empty text (empty-set signature), matching callers.

    The (num_perm × total_shingles) affine product reuses a per-process
    scratch buffer instead of allocating ~64 MB of fresh temporaries per
    Arrow batch: this host stalls ~25 µs/page on first touch of new
    anonymous memory (SCALING.json round4_fault_stall_finding), so fresh
    allocs cost more in page faults than in arithmetic (measured 75 →
    53 ms per 65k-shingle batch, first batch 445 → 68 ms). Arrow python
    workers process batches sequentially within one process, so a
    module-level buffer is safe.
    """
    n = len(texts)
    num_perm = a.size
    out = np.empty((n, num_perm), dtype=np.int64)
    base_list = [shingle_base31(t if t is not None else "", k) for t in texts]
    counts = np.fromiter((x.size for x in base_list), dtype=np.int64, count=n)
    nz = counts > 0
    if not nz.any():
        out[:] = MERSENNE_61 - 1
        return out
    allh = np.concatenate([x for x in base_list if x.size])
    need = num_perm * allh.size
    buf = _AFFINE_SCRATCH.get("buf")
    if buf is None or buf.size < need:
        buf = np.empty(max(need, 2 * (buf.size if buf is not None else 0)), dtype=np.int64)
        buf.fill(0)  # touch every page once, while we're off the clock
        _AFFINE_SCRATCH["buf"] = buf
    prod = buf[:need].reshape(num_perm, allh.size)
    np.multiply(a[:, None], allh[None, :], out=prod)
    np.add(prod, b[:, None], out=prod)
    np.mod(prod, MERSENNE_61, out=prod)
    starts = np.zeros(int(nz.sum()), dtype=np.int64)
    np.cumsum(counts[nz][:-1], out=starts[1:])
    out[nz] = np.minimum.reduceat(prod, starts, axis=1).T
    out[~nz] = MERSENNE_61 - 1
    return out
