"""Incremental ("watch mode") dedup over snapshot commits.

Generalizes the reference's watch mode (runWatchMode main.go:1585-1732,
processNewFiles main.go:1829-1921), which at HEAD is design-complete but
unwired (SURVEY snapshot-integrity note). Semantics preserved:

* initial scan bootstraps the signature state       (initialScan, T3)
* per batch: new rows are checked against the state (T4)
* THE NEW ARRIVAL IS ALWAYS THE VICTIM — the pre-existing row is the keeper
  (unlike batch keep-criteria; SURVEY §2.7 note)
* the O(n) per-arrival threshold scan (main.go:1874-1886) is replaced by an
  LSH band equi-join against the persisted signature state
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.functions.minhash_sql import (
    minhash_bands_col,
    simhash_bands_col,
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


def _write_checkpoint(state_dir: str | Path, ckpt: dict) -> None:
    p = _checkpoint_path(state_dir)
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_suffix(".tmp")
    tmp.write_text(json.dumps(ckpt))
    tmp.rename(p)


def compute_signatures(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Shared signature projection (plans.pipeline.with_signatures) slimmed
    to the persisted state columns. NOTE: a persisted state is bound to the
    signature kernel version and to the cfg's sim_algo and hash_algo it was
    built with (the MinHash format is fixed: functions/text.py) —
    process_new_snapshots refuses to mix them."""
    from file_deduplicator_spark.plans.pipeline import with_signatures

    return with_signatures(df, cfg).select(*SIG_COLS)


def match_new_against_state(
    new_sigs: DataFrame, state: DataFrame, cfg: DedupConfig,
    include: tuple = ("exact", "similar_audio", "similar_text"),
    mh_bands_builder=None, mh_agreement=None, mh_guard=None,
) -> DataFrame:
    """Alerts: (new_id, matched_id, match_kind). New arrival = victim.

    Exact: equi-join on digest (hashMap lookup, main.go:1846-1856).
    Similar: SimHash band join + Hamming verify (replaces the O(n) scan,
    main.go:1874-1886) and MinHash band join + agreement verify.
    State side of the band join is derived from stored signatures — pure
    column exprs, no re-decode of audio.

    ``include`` selects the match kinds built; ``mh_bands_builder`` /
    ``mh_agreement`` / ``mh_guard`` override the MinHash band, verify and
    degenerate-signature guard expressions — the value-level gate
    (__spark_entry__.q_watch_arrivals) runs THIS function with the
    portable (DuckDB-replicable) MinHash builders, so the join/victim
    topology under the gate is the production watch code path itself.
    """
    if not include:
        raise ValueError("include must name at least one match kind")
    n = new_sigs.select(
        F.col("clip_id").alias("new_id"),
        F.col("digest").alias("n_digest"),
        F.col("sim_sig").alias("n_sim"),
        F.col("minhash_sig").alias("n_mh"),
    )
    s = state.select(
        F.col("clip_id").alias("old_id"),
        F.col("digest").alias("s_digest"),
        F.col("sim_sig").alias("s_sim"),
        F.col("minhash_sig").alias("s_mh"),
    )

    parts = []
    if "exact" in include:
        parts.append(
            n.join(s, F.col("n_digest") == F.col("s_digest"))
            # a replayed batch can meet its own rows in state — never
            # self-match
            .filter(F.col("new_id") != F.col("old_id"))
            .select("new_id", F.col("old_id").alias("matched_id"),
                    F.lit("exact").alias("match_kind"))
        )

    def explode_bands(df, sig_col, id_alias, bands_builder):
        return df.where(F.col(sig_col).isNotNull()).select(
            F.col(id_alias), F.col(sig_col),
            F.explode(bands_builder(F.col(sig_col))).alias("e"),
        ).select(id_alias, sig_col, F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))

    if "similar_audio" in include:
        nb = explode_bands(n, "n_sim", "new_id", simhash_bands_col)
        sb = explode_bands(s, "s_sim", "old_id", simhash_bands_col)
        parts.append(
            nb.join(sb, ["band", "bh"])
            .filter(F.bit_count(F.col("n_sim").bitwiseXOR(F.col("s_sim"))) <= cfg.effective_threshold)
            .select("new_id", F.col("old_id").alias("matched_id"),
                    F.lit("similar_audio").alias("match_kind"))
            .distinct()
        )

    if "similar_text" in include:
        from file_deduplicator_spark.functions.minhash_sql import (
            EMPTY_SLOT,
            sig_agreement_col,
        )

        # empty/whitespace transcripts carry the degenerate all-EMPTY_SLOT
        # signature: agreement would be 1.0 between ANY two silent clips,
        # so they are excluded from the MinHash join (batch path guards
        # this with the has-text flag in near_dup_edges; same rule here)
        def default_guard(df, sig_col):
            return df.filter(
                F.element_at(F.col(sig_col), 1) != F.lit(EMPTY_SLOT))

        guard = mh_guard or default_guard
        mh_builder = mh_bands_builder or minhash_bands_col
        agree = mh_agreement or (
            lambda a, b: sig_agreement_col(a, b) >= cfg.jaccard_threshold)
        nt = explode_bands(guard(n, "n_mh"), "n_mh", "new_id", mh_builder)
        st = explode_bands(guard(s, "s_mh"), "s_mh", "old_id", mh_builder)
        parts.append(
            nt.join(st, ["band", "bh"])
            .filter(agree(F.col("n_mh"), F.col("s_mh")))
            .select("new_id", F.col("old_id").alias("matched_id"),
                    F.lit("similar_text").alias("match_kind"))
            .distinct()
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # replayed rows meeting themselves in state must never alert,
    # whatever the match kind
    return out.filter(F.col("new_id") != F.col("matched_id"))


def batch_alerts(
    new_sigs: DataFrame, state: DataFrame | None, cfg: DedupConfig
) -> DataFrame:
    """One micro-batch's alerts: ``new_sigs`` against the persisted
    ``state`` (None on the bootstrap batch = initialScan, T3), plus
    duplicates within the batch, where the later clip_id is the victim
    (arrival order → stable id order, SURVEY §4 determinism note)."""
    alerts = match_new_against_state(
        new_sigs, new_sigs.select(*SIG_COLS), cfg
    ).filter(F.col("new_id") > F.col("matched_id"))
    if state is not None:
        alerts = match_new_against_state(new_sigs, state, cfg).unionByName(alerts)
    return alerts.distinct()


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
    from file_deduplicator_spark.functions.audio import SIG_KERNEL_VERSION

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
    # persisted signatures are only comparable to signatures produced by the
    # SAME kernel version (borderline envelope bits flip across numeric
    # changes, e.g. the float64→float32 decode switch). A checkpoint without
    # the marker predates versioning = version 1 — and that default applies
    # whenever ANY state artifact exists on disk, not just when the
    # checkpoint file says a snapshot was processed: a crash between the
    # signatures append (the first state write of a batch) and
    # _write_checkpoint leaves signature state without a checkpoint, and
    # inferring "fresh state = current version" there would silently defeat
    # the guard (round-3 advice).
    if "sig_kernel_version" in ckpt:
        state_ver = ckpt["sig_kernel_version"]
    else:
        state_ver = 1 if sig_table.exists() else SIG_KERNEL_VERSION
    if state_ver != SIG_KERNEL_VERSION:
        raise ValueError(
            f"watch state at {state_dir} was built with signature kernel "
            f"v{state_ver}, current engine is v{SIG_KERNEL_VERSION}: rebuild "
            "the state (delete the state dir and re-bootstrap) — comparing "
            "across kernel versions silently degrades match quality"
        )
    # likewise the settings that change what a stored signature means; a
    # checkpoint without them predates this guard and gains them on write
    for key in ("sim_algo", "hash_algo"):
        if ckpt.get(key, getattr(cfg, key)) != getattr(cfg, key):
            raise ValueError(
                f"watch state at {state_dir} was built with {key}="
                f"{ckpt[key]!r}, this run has {getattr(cfg, key)!r}: use the "
                "state's setting or rebuild the state"
            )
    new_rows, latest = iceberg_lite.read_incremental(
        spark, source_table, ckpt["last_source_snapshot"]
    )
    if new_rows is None:
        return {"new_rows": 0, "alerts": 0, "actions": 0, "batch": ckpt["batches"],
                "last_source_snapshot": ckpt["last_source_snapshot"]}

    # F6: re-apply the batch filters to new arrivals (ref main.go:1683-1704
    # runs the same size/pattern checks per watch event)
    from file_deduplicator_spark.plans.pipeline import apply_prefilters

    new_rows = apply_prefilters(new_rows, cfg)
    new_sigs = compute_signatures(new_rows, cfg).persist()

    # the whole signatures table is the state side of every join: each row
    # has 16 band keys per family, so a 10-row commit already hashes into
    # ~92% of a 64-bucket band index, whose read is then larger than this
    # scan (README scale notes)
    have_state = iceberg_lite.is_iceberg_table(sig_table)
    state = iceberg_lite.read_table(spark, sig_table) if have_state else None
    alerts = batch_alerts(new_sigs, state, cfg).persist()
    n_alerts = alerts.count()
    n_new = new_sigs.count()
    batch_id = ckpt["batches"]

    # commit protocol (idempotent replay): state append is tagged with the
    # SOURCE snapshot id and skipped if that snapshot was already ingested
    # (crash between append and checkpoint; summary values are strings);
    # alerts/actions go to a deterministic per-batch directory with
    # overwrite semantics, so a replayed batch rewrites identical output
    # instead of duplicating it.
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

    ckpt = {"last_source_snapshot": latest, "batches": batch_id + 1,
            "sig_kernel_version": SIG_KERNEL_VERSION,
            "sim_algo": cfg.sim_algo, "hash_algo": cfg.hash_algo}
    _write_checkpoint(state_dir, ckpt)

    stats = {
        "new_rows": n_new,
        "alerts": n_alerts,
        "actions": n_actions,
        "batch": batch_id,
        "last_source_snapshot": latest,
    }
    new_sigs.unpersist()
    alerts.unpersist()
    return stats
