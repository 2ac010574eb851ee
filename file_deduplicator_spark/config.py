"""Job configuration — the Spark analog of the reference Config struct.

Reference: ``Config`` main.go:77-103, flag registration main.go:118-157,
JSON profile merge main.go:216-305. We replace the mutable global + flag
package with an immutable dataclass that can be loaded from a JSON profile
(profiles/*.json in the reference) and passed to every operator.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields, replace
from pathlib import Path

# Per-algorithm base thresholds — reference perceptual.go:448-452 and the
# compare-mode table at main.go:2042. These are the "same shingle/signature
# config" constants the recall target is measured at.
BASE_THRESHOLDS = {"dhash": 10, "ahash": 12, "phash": 8}

# Strictness multipliers — reference perceptual.go:446-471 (AdaptiveThreshold).
STRICTNESS = {"strict": 0.6, "normal": 1.0, "loose": 1.5}


def adaptive_threshold(algorithm: str, strictness: str = "normal") -> int:
    """Per-algo threshold scaled by strictness (ref perceptual.go:446-471)."""
    base = BASE_THRESHOLDS.get(algorithm, BASE_THRESHOLDS["dhash"])
    return int(base * STRICTNESS.get(strictness, 1.0))


@dataclass(frozen=True)
class DedupConfig:
    """All knobs for a dedup run.

    Field-by-field parity with the reference Config (main.go:77-103) where a
    concept carries over; Spark/scale-specific knobs are grouped at the end.
    """

    # --- filtering (ref main.go:130-131, 396-434) ---
    min_size: int = 0          # bytes; reference default 1024 (main.go:130)
    max_size: int = 0          # 0 = unlimited (main.go:131)
    codec_filter: tuple[str, ...] = ()   # analog of -pattern glob (main.go:132)

    # --- hashing (ref main.go:775-786) ---
    hash_algo: str = "sha256"  # sha256 | sha1 | md5; unknown -> sha256

    # --- similarity (ref main.go:146-147, perceptual.go) ---
    perceptual: bool = True          # -perceptual flag (main.go:146)
    sim_algo: str = "dhash"          # dhash | ahash | phash (main.go:148)
    sim_threshold: int = 10          # 0..64 Hamming budget (main.go:147)
    strictness: str = "normal"       # AdaptiveThreshold strictness

    # --- keeper selection (ref main.go:967-1021) ---
    keep_criteria: str = "first"     # oldest|newest|largest|smallest|path:<s>|first

    # --- MinHash verify over transcripts (new; north_star requirement).
    #     The signature format and band layout are constants, not knobs:
    #     functions/text.py (NUM_PERM, SHINGLE_K, MINHASH_SEED) and
    #     functions/minhash_sql.py (MinHash bands, SimHash tables) ---
    jaccard_threshold: float = 0.5   # verify-stage threshold

    # --- scale / skew (north_star skew clause) ---
    bucket_cap: int = 256            # max rows considered per LSH bucket
    salt_buckets: int = 16           # salted repartition fan-out for hot keys
    cc_max_iters: int = 30           # connected-components fixpoint bound

    # --- watch mode (ref -watch-auto-clean main.go:156, handleAutoClean
    #     main.go:1952-1984: the new arrival is the victim) ---
    watch_auto_clean: bool = False
    watch_clean_action: str = "remove"   # remove | move
    watch_move_to: str = "_quarantine"   # -move-to analog for watch actions

    @staticmethod
    def from_profile(path: str | Path, **overrides) -> "DedupConfig":
        """Load a JSON profile (reference profiles/*.json, main.go:216-305).

        Precedence mirrors the reference: explicit overrides > profile file
        > dataclass defaults.
        """
        raw = json.loads(Path(path).read_text())
        known = {f.name for f in fields(DedupConfig)}
        base = DedupConfig(**{k: v for k, v in raw.items() if k in known})
        return replace(base, **overrides) if overrides else base

    @property
    def effective_threshold(self) -> int:
        if self.strictness == "normal":
            return self.sim_threshold
        return adaptive_threshold(self.sim_algo, self.strictness)
