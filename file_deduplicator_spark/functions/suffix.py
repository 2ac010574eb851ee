"""Suffix-array kernel (numpy, prefix-doubling) for contained-transcript
matching — north_star: "suffix-array substring matching for contained-
duplicate transcripts".

Used inside the containment verify stage, one ``mapInArrow`` pass over
rows sorted by container (operators/containment.verify_containment): build
the SA of a container transcript once,
then binary-search every candidate needle against it. O((n + Σm) log n)
per container instead of naive scan per pair.
"""

from __future__ import annotations

import numpy as np


def suffix_array(data: bytes) -> np.ndarray:
    """Suffix array via prefix doubling with numpy lexsort — O(n log^2 n),
    fully vectorized (no per-character Python loop)."""
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        changed = (rank[order][1:] != rank[order][:-1]) | (
            key2[order][1:] != key2[order][:-1]
        )
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.concatenate(([0], np.cumsum(changed)))
        rank = new_rank
        sa = order
        if rank[sa[-1]] == n - 1:
            break
        k *= 2
    return sa


def sa_contains(data: bytes, sa: np.ndarray, needle: bytes) -> bool:
    """Binary search the suffix array for any occurrence of ``needle``."""
    m = len(needle)
    if m == 0:
        return True
    if m > len(data):
        return False
    lo, hi = 0, len(sa)
    while lo < hi:  # lower bound of suffixes >= needle
        mid = (lo + hi) // 2
        if data[sa[mid] : sa[mid] + m] < needle:
            lo = mid + 1
        else:
            hi = mid
    return lo < len(sa) and data[sa[lo] : sa[lo] + m] == needle


def word_contains(container: str, needle: str, sa: np.ndarray | None = None) -> bool:
    """Word-boundary-aligned containment: needle's word sequence occurs as a
    contiguous run in container's word sequence. Space-sentinel padding makes
    every SA hit word-aligned."""
    c = (" " + " ".join(container.lower().split()) + " ").encode("utf-8")
    ndl = (" " + " ".join(needle.lower().split()) + " ").encode("utf-8")
    if sa is None:
        sa = suffix_array(c)
    return sa_contains(c, sa, ndl)
