"""Fixture staging and output checks.

Fixtures come from ``datagen.generate_clips(n, seed)`` and are cached under
``.bench_cache/`` in the checkout, one directory per (workload, n, seed),
each written to a temporary directory and renamed into place, so a killed
run never leaves a half-written fixture that a later run would trust. The
cache keeps the most recently used entries only.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# scenarios kept by batch_unique: no planted duplicates, only distinct clips
# and the near-miss pairs that must stay apart
UNIQUE_SCENARIOS = ("unique", "near_miss")
MAX_CACHED = 12  # fixtures are ~45 MB each


@dataclass
class Fixture:
    path: Path                   # directory holding clips.parquet
    rows: int
    expected: pd.DataFrame       # clip_id_a, clip_id_b, kind
    forbidden: pd.DataFrame      # clip_id_a, clip_id_b
    datagen_s: float             # time spent building cache entries; 0 on a hit


def _atomic_dir(final: Path, write) -> None:
    tmp = final.with_name(final.name + ".tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    write(tmp)
    if final.exists():
        shutil.rmtree(final)
    tmp.rename(final)


def _evict(cache: Path, keep: int) -> None:
    """Bound the cache: drop all but the ``keep`` most recently used entries."""
    entries = sorted((p for p in cache.iterdir() if p.is_dir() and not p.name.endswith(".tmp")),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for p in entries[keep:]:
        shutil.rmtree(p, ignore_errors=True)


def stage(cache: Path, workload: str, n: int, seed: int) -> Fixture:
    path = cache / f"{workload}_n{n}_s{seed}"
    datagen_s = 0.0
    if not (path / "clips.parquet").exists():
        from file_deduplicator_spark.datagen import generate_clips, write_clips_parquet

        t0 = time.perf_counter()
        fx = generate_clips(n_clips=n, seed=seed)
        if workload == "batch_unique":
            fx.clips = fx.clips[fx.clips.scenario.isin(UNIQUE_SCENARIOS)].reset_index(drop=True)
        _atomic_dir(path, lambda tmp: write_clips_parquet(fx, str(tmp)))
        datagen_s = time.perf_counter() - t0
    path.touch()  # mark as recently used
    _evict(cache, MAX_CACHED)
    rows = pq.ParquetFile(path / "clips.parquet").metadata.num_rows
    ids = set(pq.read_table(path / "clips.parquet", columns=["clip_id"])["clip_id"].to_pylist())
    # keep only the planted pairs whose rows are both in this fixture
    expected = pd.read_parquet(path / "expected_pairs.parquet")
    forbidden = pd.read_parquet(path / "forbidden_pairs.parquet")
    expected = expected[expected.clip_id_a.isin(ids) & expected.clip_id_b.isin(ids)]
    forbidden = forbidden[forbidden.clip_id_a.isin(ids) & forbidden.clip_id_b.isin(ids)]
    return Fixture(path, rows, expected.reset_index(drop=True),
                   forbidden.reset_index(drop=True), datagen_s)


def commit_slices(fx: Fixture, seed: int, out: Path, commits: int, rows: int) -> tuple[Path, list[Path]]:
    """Split the fixture for watch mode: rows in seeded-hash order (so planted
    partners straddle the bootstrap and the commits), all but the last
    ``commits * rows`` rows bootstrap the state, the rest form the fixed
    commit sequence. Returns (bootstrap parquet, [commit parquet, ...])."""
    t = pq.read_table(fx.path / "clips.parquet").drop_columns(["mtime", "scenario"])
    ids = t["clip_id"].to_pylist()
    order = sorted(range(len(ids)), key=lambda i: hashlib.blake2b(
        f"{seed}:{ids[i]}".encode(), digest_size=8).digest())
    t = t.take(pa.array(order))
    n_boot = len(ids) - commits * rows
    out.mkdir(parents=True, exist_ok=True)
    boot = out / "bootstrap.parquet"
    pq.write_table(t.slice(0, n_boot), boot, row_group_size=512)
    paths = []
    for k in range(commits):
        p = out / f"commit_{k:02d}.parquet"
        pq.write_table(t.slice(n_boot + k * rows, rows), p)
        paths.append(p)
    return boot, paths


# ---------------------------------------------------------------- checks


def parquet_rows(path: Path) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in sorted(path.rglob("*.parquet")))


def cluster_of(actions_dir: Path) -> dict[str, str]:
    """clip_id -> cluster_id from a written actions table: every DELETE row
    names its clip and its cluster's keeper."""
    t = ds.dataset(actions_dir, format="parquet").to_table(
        columns=["clip_id", "cluster_id", "keeper_id"]).to_pandas()
    out = dict(zip(t.keeper_id, t.cluster_id))
    out.update(zip(t.clip_id, t.cluster_id))
    return out


def alerted_pairs(alerts_dir: Path) -> set[tuple[str, str]]:
    """Unordered (a, b) pairs raised by watch mode, any match kind."""
    if not alerts_dir.exists():
        return set()
    t = ds.dataset(alerts_dir, format="parquet", partitioning="hive").to_table(
        columns=["new_id", "matched_id"]).to_pandas()
    return {(min(a, b), max(a, b)) for a, b in zip(t.new_id, t.matched_id)}


def pair_quality(found, expected: pd.DataFrame, forbidden: pd.DataFrame,
                 kinds: tuple[str, ...] | None = None) -> dict:
    """Per-kind recall of the planted pairs and the false-pair rate.

    ``found(a_series, b_series) -> bool array`` says whether each pair was
    detected. ``pair_recall`` is the minimum over kinds, so the large exact
    groups cannot mask a weak kind; None when the fixture plants no pairs."""
    if kinds is not None:
        expected = expected[expected.kind.isin(kinds)]
    recall = {}
    for kind, g in expected.groupby("kind"):
        recall[kind] = float(found(g.clip_id_a, g.clip_id_b).mean())
    false_rate = (float(found(forbidden.clip_id_a, forbidden.clip_id_b).mean())
                  if len(forbidden) else 0.0)
    return {"recall_by_kind": recall,
            "pair_recall": min(recall.values()) if recall else None,
            "false_pair_rate": false_rate,
            "forbidden_pairs": len(forbidden)}


def batch_quality(actions_dir: Path, fx: Fixture) -> dict:
    cmap = cluster_of(actions_dir)

    def co_clustered(a: pd.Series, b: pd.Series):
        ca, cb = a.map(cmap), b.map(cmap)
        return (ca.notna() & (ca == cb)).to_numpy()

    return pair_quality(co_clustered, fx.expected, fx.forbidden)


def watch_quality(alerts_dir: Path, fx: Fixture) -> dict:
    pairs = alerted_pairs(alerts_dir)

    def alerted(a: pd.Series, b: pd.Series):
        return pd.Series([(min(x, y), max(x, y)) in pairs for x, y in zip(a, b)],
                         dtype=bool).to_numpy()

    return pair_quality(alerted, fx.expected, fx.forbidden, kinds=("exact", "near_audio"))


MIN_RECALL = 0.99      # the paper's dup-pair recall target
MAX_FALSE_RATE = 0.01


def quality_ok(q: dict) -> bool:
    return ((q["pair_recall"] is None or q["pair_recall"] >= MIN_RECALL)
            and q["false_pair_rate"] <= MAX_FALSE_RATE)
