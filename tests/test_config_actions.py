"""Config, action-application, threshold-table, and display-helper tests —
the round-1 untested surface (VERDICT item 9 + H13/H11 parity).

Reference semantics: processDuplicates delete/move incl. keeper-survives
(main.go:1023-1131), loadConfig precedence (main.go:216-305),
AdaptiveThreshold table (perceptual.go:446-471), formatBytes/-Duration
(main.go:1468-1479, 761-773), group similarity (main.go:889-893)."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from file_deduplicator_spark.config import BASE_THRESHOLDS, DedupConfig, adaptive_threshold
from file_deduplicator_spark.functions.format import (
    format_bytes,
    format_duration,
    group_similarity,
)
from file_deduplicator_spark.operators.apply_actions import (
    apply_plan_delete,
    apply_plan_move,
)


@pytest.fixture()
def planned(spark):
    clips = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 10), ("d", 7)],
        "clip_id string, size long",
    )
    # plan: b and c are victims of keeper a (cluster a); d untouched
    plan = spark.createDataFrame(
        [("b", "a", 10, "a", "remove"), ("c", "a", 10, "a", "remove")],
        "clip_id string, cluster_id string, size long, keeper_id string, planned_action string",
    )
    return clips, plan


def test_apply_plan_delete_keeper_survives(spark, planned, tmp_path):
    clips, plan = planned
    out = apply_plan_delete(clips, plan, actions_dir=tmp_path / "undo")
    ids = {r.clip_id for r in out.collect()}
    assert ids == {"a", "d"}  # keeper + untouched survive, victims gone
    # undo/lineage appended BEFORE the mutation (saveUndoLog main.go:1255-1259)
    undo = spark.read.parquet(str(tmp_path / "undo"))
    assert undo.count() == 2


def test_apply_plan_move_tags_victims(spark, planned, tmp_path):
    clips, plan = planned
    out = apply_plan_move(clips, plan, move_to="dups")
    rows = {r.clip_id: r.partition_bucket for r in out.collect()}
    assert rows == {"a": "keep", "d": "keep", "b": "dups", "c": "dups"}
    assert out.count() == 4  # move never loses rows (main.go:1077-1092)


def test_from_profile_precedence(tmp_path):
    """explicit overrides > profile file > dataclass defaults (main.go:216-305)."""
    p = tmp_path / "profile.json"
    p.write_text(json.dumps({
        "min_size": 2048,
        "sim_algo": "phash",
        "unknown_key_is_ignored": True,
        # fields of older profiles that DedupConfig no longer has
        "watch_pruned_state": False,
        "state_buckets": 32,
        "dry_run": True,
        "shuffle_partitions": 32,
        # the signature format and band layout, now constants
        "num_perm": 128,
        "shingle_k": 5,
        "minhash_seed": 7,
        "minhash_bands": 32,
        "minhash_rows": 4,
        "simhash_bands": 4,
        "simhash_key_blocks": 2,
        "simhash_design": "combinations",
        "simhash_rotations": [0, 3, 11],
        "containment_min_words": 12,
    }))
    cfg = DedupConfig.from_profile(p)
    assert cfg.min_size == 2048          # from profile
    assert cfg.sim_algo == "phash"       # from profile
    assert cfg.hash_algo == "sha256"     # dataclass default
    cfg2 = DedupConfig.from_profile(p, min_size=1)
    assert cfg2.min_size == 1            # explicit override wins
    assert cfg2.sim_algo == "phash"


def test_adaptive_threshold_table():
    """Exact table parity: base {dhash:10, ahash:12, phash:8} ×
    strictness {strict:0.6, normal:1.0, loose:1.5} (perceptual.go:446-471)."""
    assert BASE_THRESHOLDS == {"dhash": 10, "ahash": 12, "phash": 8}
    expect = {
        ("dhash", "strict"): 6, ("dhash", "normal"): 10, ("dhash", "loose"): 15,
        ("ahash", "strict"): 7, ("ahash", "normal"): 12, ("ahash", "loose"): 18,
        ("phash", "strict"): 4, ("phash", "normal"): 8, ("phash", "loose"): 12,
    }
    for (algo, s), want in expect.items():
        assert adaptive_threshold(algo, s) == want, (algo, s)
    # unknown algo falls back to dhash's base (getHasher-style fallback)
    assert adaptive_threshold("nope", "normal") == 10
    cfg = DedupConfig(sim_algo="ahash", strictness="loose")
    assert cfg.effective_threshold == 18
    assert DedupConfig(sim_threshold=7).effective_threshold == 7  # normal → raw


def test_format_bytes_parity():
    """Pinned to the reference's own test table (main_test.go:678-700)."""
    assert format_bytes(-1) == "-1 B"
    assert format_bytes(512) == "512 B"
    assert format_bytes(1024) == "1.0 KB"
    assert format_bytes(1536) == "1.5 KB"
    assert format_bytes(1048576) == "1.0 MB"
    assert format_bytes(1073741824) == "1.0 GB"
    assert format_bytes(9223372036854775807) == "8.0 EB"


def test_format_duration_parity():
    assert format_duration(42.4) == "42s"
    assert format_duration(75) == "1m 15s"
    assert format_duration(3725) == "1h 2m"


def test_group_similarity_formula():
    """100 − t/64·100, floored to 50+t below 50 (main.go:889-893)."""
    assert group_similarity(10) == pytest.approx(100.0 - 10 / 64 * 100)
    assert group_similarity(0) == 100.0
    assert group_similarity(40) == 90.0  # 100-62.5=37.5 < 50 → 50+40


def test_phash_is_full_64_bits():
    """Post-fix: the DCT signature carries information in all 64 bit
    positions across a sample (the 64-point DCT bug pinned bit 63 to 0)."""
    from file_deduplicator_spark.datagen import _synth_pcm
    from file_deduplicator_spark.functions.audio import phash_sig

    rng = np.random.RandomState(1)
    seen = 0
    for _ in range(40):
        sig = phash_sig(_synth_pcm(rng, 8000, 400)) & 0xFFFFFFFFFFFFFFFF
        seen |= sig
    assert seen == 0xFFFFFFFFFFFFFFFF, f"dead bit positions: {~seen & 0xFFFFFFFFFFFFFFFF:#x}"


def test_cluster_stats_similarity_field(spark):
    from file_deduplicator_spark.operators.report import cluster_stats

    labeled = spark.createDataFrame(
        [
            ("a", "c1", "d1", 5, "KEEP"), ("b", "c1", "d1", 5, "DELETE"),   # exact
            ("x", "c2", "d2", 9, "KEEP"), ("y", "c2", "d3", 9, "DELETE"),   # near
        ],
        "clip_id string, cluster_id string, digest string, size long, action string",
    )
    stats = {r.cluster_id: r.similarity for r in cluster_stats(labeled, sim_threshold=10).collect()}
    assert stats["c1"] == 100.0
    assert stats["c2"] == pytest.approx(group_similarity(10))
