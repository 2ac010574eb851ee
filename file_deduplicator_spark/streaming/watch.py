"""Incremental ("watch mode") dedup over snapshot commits.

Generalizes the reference's watch mode (runWatchMode main.go:1585-1732,
processNewFiles main.go:1829-1921), which at HEAD is design-complete but
unwired (SURVEY snapshot-integrity note). Semantics preserved:

* initial scan bootstraps the signature state       (initialScan, T3)
* per batch: new rows are checked against the state (T4)
* THE NEW ARRIVAL IS ALWAYS THE VICTIM — the pre-existing row is the keeper
  (unlike batch keep-criteria; SURVEY §2.7 note)
* the O(n) per-arrival threshold scan (main.go:1874-1886) is replaced by
  LSH buckets over the batch and the persisted signature state
* auto-clean emits action rows, never silent deletes (T5)
* WatchStats counters → metrics table               (A5)

Resumability (north rule): state = a ``signatures`` Iceberg table
(sources/iceberg_lite.py), one snapshot per batch tagged with the source
snapshot it ingested, + a checkpoint file carrying the last processed source
snapshot id, written only after a batch fully succeeds; a replayed batch
skips the append its tag shows was made, so it replays idempotently. The
source is an Iceberg table too, read from the checkpointed snapshot id on.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.functions.minhash_sql import (
    EMPTY_SLOT,
    minhash_bands_col,
    minhash_fold_col,
    sig_agreement_col,
    simhash_bands_col,
)
from file_deduplicator_spark.functions.text import NUM_PERM
from file_deduplicator_spark.operators.lsh import (
    band_table,
    bucket_pairs,
    bucket_stats,
    fold_within,
    hamming_within,
)
from file_deduplicator_spark.sources import iceberg_lite

SIG_COLS = ["clip_id", "digest", "size", "sim_sig", "minhash_sig"]


def _checkpoint_path(state_dir: str | Path) -> Path:
    return Path(state_dir) / "_checkpoint.json"


def read_checkpoint(state_dir: str | Path) -> dict:
    p = _checkpoint_path(state_dir)
    if not p.exists():
        return {"last_source_snapshot": None, "batches": 0}
    return json.loads(p.read_text())


def write_json(p: Path, obj: dict) -> None:
    """Atomic replace: a crash leaves the old file or the new one."""
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj))
    tmp.rename(p)


def compute_signatures(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Shared signature projection (plans.pipeline.with_signatures) slimmed
    to the persisted state columns. NOTE: a persisted state is bound to the
    signature kernel version and to the cfg's sim_algo and hash_algo it was
    built with (the MinHash format is fixed: functions/text.py) —
    check_state_settings refuses to mix them, in both watch tiers."""
    from file_deduplicator_spark.plans.pipeline import with_signatures

    return with_signatures(df, cfg).select(*SIG_COLS)


def check_state_settings(state_dir: str | Path, recorded: dict, state_exists: bool,
                         cfg: DedupConfig) -> dict:
    """Raise ValueError when the state was built with another signature
    kernel version, sim_algo or hash_algo; return the settings to record
    with it. ``recorded`` is the snapshot tier's checkpoint or the stream
    tier's settings file, empty when missing. A record without the kernel
    marker means v1 when ``state_exists``: a snapshot-tier crash between
    the state append and the checkpoint leaves state without a checkpoint
    (round-3 advice); the stream tier writes its record before any state,
    so it passes False. A record without sim_algo/hash_algo gains them."""
    from file_deduplicator_spark.functions.audio import SIG_KERNEL_VERSION

    state_ver = recorded.get("sig_kernel_version", 1 if state_exists else SIG_KERNEL_VERSION)
    if state_ver != SIG_KERNEL_VERSION:
        raise ValueError(
            f"watch state at {state_dir} was built with signature kernel "
            f"v{state_ver}, current engine is v{SIG_KERNEL_VERSION}: rebuild "
            "the state (delete the state dir and re-bootstrap) — comparing "
            "across kernel versions silently degrades match quality"
        )
    for key in ("sim_algo", "hash_algo"):
        if recorded.get(key, getattr(cfg, key)) != getattr(cfg, key):
            raise ValueError(
                f"watch state at {state_dir} was built with {key}="
                f"{recorded[key]!r}, this run has {getattr(cfg, key)!r}: use the "
                "state's setting or rebuild the state"
            )
    return {"sig_kernel_version": SIG_KERNEL_VERSION,
            "sim_algo": cfg.sim_algo, "hash_algo": cfg.hash_algo}


def batch_alerts(
    new_sigs: DataFrame, state: DataFrame | None, cfg: DedupConfig,
    include: tuple = ("exact", "similar_audio", "similar_text"),
    mh_bands_builder=None, mh_agreement=None, mh_guard=None,
) -> tuple[DataFrame, dict]:
    """One micro-batch's alerts (new_id, matched_id, match_kind), persisted
    for the caller to unpersist, and its stats: ``new_sigs`` against the
    persisted ``state`` (None on the bootstrap batch = initialScan, T3) and
    each other. THE NEW ARRIVAL IS THE VICTIM; between two arrivals the
    later clip_id (SURVEY §4 determinism).

    New ∪ state rows, tagged ``in_state``, feed every match; state rows whose
    clip_id is in the batch are dropped first, so a replayed batch meets its
    own rows once, as arrivals. Exact: one digest equi-join (main.go:
    1846-1856). Similar (replaces the O(n) scan, main.go:1874-1886): per
    family, lsh.bucket_pairs over the buckets holding a new row, keeping
    pairs with a new side that pass the in-bucket verify (Hamming; for
    MinHash the fold pre-filter, then the slot agreement on the survivors,
    as in the batch path). Members sort new-first, so the cap evicts a new
    row only from a bucket holding more than ``bucket_cap`` of them. Stats:
    ``alerts`` and each family's lsh.bucket_stats as ``lsh_*`` /
    ``lsh_text_*`` (the batch job's names; an Observation loses them when a
    family yields no pair, as AQE swaps its plan for an empty relation).

    ``include`` selects the match kinds; ``mh_bands_builder`` /
    ``mh_agreement`` / ``mh_guard`` override the MinHash band, verify and
    degenerate-signature guard expressions, so the value-level gate
    (__spark_entry__.q_watch_arrivals) runs THIS function with portable
    (DuckDB-replicable) builders.
    """
    if not include:
        raise ValueError("include must name at least one match kind")
    tagged = new_sigs.select(*SIG_COLS, F.lit(False).alias("in_state"))
    if state is not None:
        tagged = tagged.unionByName(
            state.select(*SIG_COLS).join(new_sigs.select("clip_id"), "clip_id", "left_anti")
            .withColumn("in_state", F.lit(True)))
    # every match below reads it: the state is scanned and anti-joined once
    tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)

    parts = []
    if "exact" in include:
        matched = tagged.select(F.col("clip_id").alias("matched_id"), "digest",
                                F.col("in_state").alias("m_state"))
        parts.append(
            tagged.filter(~F.col("in_state")).select(F.col("clip_id").alias("new_id"), "digest")
            .join(matched, "digest")
            .filter(F.col("m_state") | (F.col("matched_id") < F.col("new_id")))
            .select("new_id", "matched_id", F.lit("exact").alias("match_kind")))

    def live_bands(rows, bands, **payload):
        # read by the probe and by the groupBy; state-only buckets never expand
        bt = band_table(rows, bands, payload={**payload, "in_state": "in_state"})
        if state is not None:
            bt = bt.join(bt.filter(~F.col("in_state")).select("band", "bh"),
                         ["band", "bh"], "left_semi")
        return bt.persist(StorageLevel.MEMORY_AND_DISK)

    families = {}  # stat prefix → (live band table, in-bucket verify, kind)
    if "similar_audio" in include:
        families["lsh_"] = (
            live_bands(tagged.where(F.col("sim_sig").isNotNull()),
                       simhash_bands_col(F.col("sim_sig")), sig="sim_sig"),
            hamming_within(cfg.effective_threshold), "similar_audio")
    if "similar_text" in include:
        # empty/whitespace transcripts carry the degenerate all-EMPTY_SLOT
        # signature, whose agreement is 1.0 between ANY two silent clips:
        # they never enter the band table (the batch path's has-text rule)
        guard = mh_guard or (lambda df, c: df.filter(
            F.element_at(F.col(c), 1) != F.lit(EMPTY_SLOT)))
        text = guard(tagged, "minhash_sig")
        agree = mh_agreement or (lambda a, b: sig_agreement_col(a, b) >= cfg.jaccard_threshold)
        bands = (mh_bands_builder or minhash_bands_col)(F.col("minhash_sig"))
        if mh_agreement is None:  # the fold bounds the engine's own 64-slot agreement only
            fold = minhash_fold_col(F.col("minhash_sig"), NUM_PERM)
            families["lsh_text_"] = (live_bands(text.withColumn("fold", fold), bands, fold="fold"),
                                     fold_within(NUM_PERM, cfg.jaccard_threshold), "similar_text")
        else:
            families["lsh_text_"] = (live_bands(text, bands), lambda x, y: F.lit(True),
                                     "similar_text")
    stats = bucket_stats({k: f[0] for k, f in families.items()}, cfg.bucket_cap) if families else {}

    def victim_first(x, y):  # x is new (new rows sort first); y is the victim iff new too
        return F.struct(F.when(y["in_state"], x["id"]).otherwise(y["id"]).alias("new_id"),
                        F.when(y["in_state"], y["id"]).otherwise(x["id"]).alias("matched_id"))

    for prefix, (bt, verify, kind) in families.items():
        pairs = bucket_pairs(
            bt, cfg, emit=victim_first, rank="in_state", max_bucket=stats[prefix]["max_bucket"],
            keep=lambda x, y, verify=verify: ~x["in_state"] & verify(x, y), distinct=False)
        if kind == "similar_text":  # the slot agreement, on the pairs the buckets kept
            sig = text.select("clip_id", "minhash_sig")
            a, b = sig.alias("a"), sig.alias("b")
            pairs = (pairs.join(a, F.col("new_id") == F.col("a.clip_id"))
                     .join(b, F.col("matched_id") == F.col("b.clip_id"))
                     .filter(agree(F.col("a.minhash_sig"), F.col("b.minhash_sig")))
                     .select("new_id", "matched_id"))
        parts.append(pairs.withColumn("match_kind", F.lit(kind)))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # a clip_id twice in one batch must never match itself, and one that two
    # commits stored must not alert twice; the distinct also merges a pair's
    # copies from several bands, and gives the alerts few partitions, so
    # each batch writes few files
    alerts = out.filter(F.col("new_id") != F.col("matched_id")).distinct().persist()
    n_alerts = alerts.count()
    for df in [tagged] + [bt for bt, _, _ in families.values()]:
        df.unpersist()
    return alerts, {"alerts": n_alerts, **{f"{prefix}{k}": v for prefix, fam in stats.items()
                                           for k, v in fam.items()}}


def process_new_snapshots(
    spark: SparkSession,
    source_table: str | Path,
    state_dir: str | Path,
    cfg: DedupConfig = DedupConfig(),
) -> dict:
    """One incremental batch: read rows added since the checkpoint, alert on
    duplicates vs state (and within the batch), extend state, advance the
    checkpoint. Returns WatchStats-style metrics (A5).
    """
    state_dir = Path(state_dir)
    sig_table = state_dir / "signatures"
    if sig_table.exists() and not iceberg_lite.is_iceberg_table(sig_table):
        raise ValueError(
            f"watch state at {state_dir} holds a signatures dir that is not an "
            "Iceberg table (state in the retired JSON snapshot-log format, or "
            "a bootstrap that died before its first commit): rebuild the "
            "state (delete the state dir and re-bootstrap)"
        )
    ckpt = read_checkpoint(state_dir)
    settings = check_state_settings(state_dir, ckpt, sig_table.exists(), cfg)
    new_rows, latest = iceberg_lite.read_incremental(
        spark, source_table, ckpt["last_source_snapshot"]
    )
    if new_rows is None:
        return {"new_rows": 0, "alerts": 0, "actions": 0, "batch": ckpt["batches"],
                "last_source_snapshot": ckpt["last_source_snapshot"]}

    # F6: re-apply the batch filters to new arrivals (ref main.go:1683-1704
    # runs the same size/pattern checks per watch event)
    from file_deduplicator_spark.plans.pipeline import apply_prefilters

    new_sigs = compute_signatures(apply_prefilters(new_rows, cfg), cfg).persist()

    # the whole signatures table is the state side of every match: a band
    # index read more than this scan (README scale notes)
    have_state = iceberg_lite.is_iceberg_table(sig_table)
    state = iceberg_lite.read_table(spark, sig_table) if have_state else None
    alerts, match_stats = batch_alerts(new_sigs, state, cfg)
    n_alerts = match_stats["alerts"]
    n_new = new_sigs.count()
    batch_id = ckpt["batches"]

    # commit protocol (idempotent replay): the state append is tagged with
    # the SOURCE snapshot id (summary values are strings) and skipped if that
    # snapshot was already ingested; alerts/actions overwrite a per-batch
    # directory, so a replayed batch rewrites identical output.
    already = have_state and any(
        m.get("source_snapshot") == str(latest)
        for m in iceberg_lite.snapshot_summaries(sig_table)
    )
    if not already:
        iceberg_lite.append_snapshot(new_sigs, sig_table, source_snapshot=latest)
    if n_alerts:
        alerts.withColumn("batch", F.lit(batch_id)).write.mode("overwrite").parquet(
            str(state_dir / "alerts" / f"batch={batch_id}")
        )

    # T5 handleAutoClean (ref main.go:1952-1984): the NEW ARRIVAL is the
    # victim; emit one action row per alerted arrival — never silent deletes
    # (action application is a separate explicit step, operators/apply_actions)
    n_actions = 0
    if cfg.watch_auto_clean and n_alerts:
        actions = (
            alerts.groupBy("new_id")
            .agg(F.min("matched_id").alias("keeper_id"))
            .select(
                F.col("new_id").alias("clip_id"),
                F.col("keeper_id"),
                F.lit(cfg.watch_clean_action).alias("action"),
                (F.lit(None).cast("string") if cfg.watch_clean_action != "move"
                 else F.concat(F.lit(cfg.watch_move_to.rstrip("/") + "/"),
                               F.col("new_id"))).alias("target"),
                F.lit(batch_id).alias("batch"),
            )
        )
        n_actions = actions.count()
        actions.write.mode("overwrite").parquet(
            str(state_dir / "actions" / f"batch={batch_id}")
        )

    write_json(_checkpoint_path(state_dir),
               {"last_source_snapshot": latest, "batches": batch_id + 1, **settings})

    new_sigs.unpersist()
    alerts.unpersist()
    return {"new_rows": n_new, "actions": n_actions, "batch": batch_id,
            "last_source_snapshot": latest, **match_stats}
