"""Incremental ("watch mode") dedup over snapshot commits.

Generalizes the reference's watch mode (runWatchMode main.go:1585-1732,
processNewFiles main.go:1829-1921), which at HEAD is design-complete but
unwired (SURVEY snapshot-integrity note). Semantics preserved:

* initial scan bootstraps the signature state       (initialScan, T3)
* per batch: new rows are checked against the state (T4); a batch is one
  ``process_new_snapshots`` call, so the caller's schedule for it is the
  fsnotify loop's cadence (T1/T2)
* THE NEW ARRIVAL IS ALWAYS THE VICTIM — the pre-existing row is the keeper
  (unlike batch keep-criteria; SURVEY §2.7 note)
* the O(n) per-arrival threshold scan (main.go:1874-1886) is replaced by
  LSH buckets over the batch and the persisted signature state
* auto-clean emits action rows, never silent deletes (T5)
* WatchStats counters → metrics table               (A5)

Resumability (north rule): state = a ``signatures`` Iceberg table
(sources/iceberg_lite.py), one snapshot per batch tagged with the source
snapshot it ingested and the signature settings it was built with (each
checked by pipeline.check_signature_settings before the state is read),
+ ``alerts/batch=N`` and ``actions/batch=N``. The state snapshot is the
one commit record: a batch writes its batch dirs first and appends its
snapshot last, and the next batch reads the source after the latest
snapshot's ``source_snapshot``, numbered by the count of snapshots. A
batch that dies before its commit replays and overwrites its batch dirs,
so it replays idempotently. The source is an Iceberg table too.
"""

from __future__ import annotations

from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.functions.minhash_sql import has_text_col, minhash_bands_col
from file_deduplicator_spark.operators.lsh import bucket_pairs, bucket_stats, verify_pairs_minhash
from file_deduplicator_spark.plans.pipeline import (apply_prefilters, check_signature_settings,
                                                    near_dup_bands, signature_settings,
                                                    with_signatures)
from file_deduplicator_spark.sources import iceberg_lite

SIG_COLS = ["clip_id", "digest", "size", "sim_sig", "minhash_sig"]


def batch_alerts(
    new_sigs: DataFrame, state: DataFrame | None, cfg: DedupConfig,
    include: tuple = ("exact", "similar_audio", "similar_text"),
    mh_bands_builder=minhash_bands_col, mh_guard=has_text_col,
) -> tuple[DataFrame, dict]:
    """One micro-batch's alerts (new_id, matched_id, match_kind), persisted
    for the caller to unpersist, and its stats: ``new_sigs`` against the
    persisted ``state`` (None on the bootstrap batch = initialScan, T3) and
    each other. THE NEW ARRIVAL IS THE VICTIM; between two arrivals the
    later clip_id (SURVEY §4 determinism).

    New ∪ state rows, tagged ``in_state``, feed every match; state rows whose
    clip_id is in the batch are dropped first, so a clip id that the source
    commits again is matched once, as an arrival, never against its stored
    row. Exact: one digest equi-join (main.go:1846-1856). Similar (replaces
    the O(n) scan, main.go:1874-1886): the batch path's near-dup core —
    pipeline.near_dup_bands builds the band families (carrying
    ``in_state``; ``include`` picks which are kept), narrowed to the buckets holding a new row, then lsh.bucket_pairs keeps
    pairs with a new side that pass the family's in-bucket verify, and text
    pairs take the one slot-agreement verify, lsh.verify_pairs_minhash.
    Members sort new-first, so the cap evicts a new row only from a bucket
    holding more than ``bucket_cap`` of them. Stats: ``alerts`` and each
    kept family's lsh.bucket_stats as ``lsh_*`` / ``lsh_text_*`` (the batch
    job's names).

    ``mh_bands_builder`` / ``mh_guard`` replace the MinHash band builder and
    the has-text predicate (minhash_sql.has_text_col), so the value-level
    gate (__spark_entry__.q_watch_arrivals) runs THIS function on portable
    (DuckDB-replicable) signatures.
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

    kinds = {"lsh_": "similar_audio", "lsh_text_": "similar_text"}
    families = {}  # stat prefix → (live band table, in-bucket verify)
    for prefix, (bt, verify) in near_dup_bands(
            tagged, tagged, cfg, carry=("in_state",), text_bands=mh_bands_builder,
            has_text=mh_guard).items():
        if kinds[prefix] in include:
            if state is not None:  # state-only buckets never expand
                bt = bt.join(bt.filter(~F.col("in_state")).select("band", "bh"),
                             ["band", "bh"], "left_semi")
            # read by the probe and by the groupBy
            families[prefix] = (bt.persist(StorageLevel.MEMORY_AND_DISK), verify)
    stats = bucket_stats({k: bt for k, (bt, _) in families.items()},
                         cfg.bucket_cap) if families else {}

    def victim_first(x, y):  # x is new (new rows sort first); y is the victim iff new too
        return F.struct(F.when(y["in_state"], x["id"]).otherwise(y["id"]).alias("new_id"),
                        F.when(y["in_state"], y["id"]).otherwise(x["id"]).alias("matched_id"))

    for prefix, (bt, verify) in families.items():
        pairs = bucket_pairs(
            bt, cfg, emit=victim_first, rank="in_state", max_bucket=stats[prefix]["max_bucket"],
            keep=lambda x, y, v=verify: ~x["in_state"] if v is None else ~x["in_state"] & v(x, y),
            distinct=False)
        if prefix == "lsh_text_":
            pairs = verify_pairs_minhash(pairs, tagged, cfg.jaccard_threshold,
                                         pair_cols=("new_id", "matched_id"))
        parts.append(pairs.select("new_id", "matched_id", F.lit(kinds[prefix]).alias("match_kind")))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # a clip_id twice in one batch must never match itself, and one that two
    # commits stored must not alert twice; the distinct also merges a pair's
    # copies from several bands, and gives the alerts few partitions, so
    # each batch writes few files
    alerts = out.filter(F.col("new_id") != F.col("matched_id")).distinct().persist()
    n_alerts = alerts.count()
    for df in [tagged] + [bt for bt, _ in families.values()]:
        df.unpersist()
    return alerts, {"alerts": n_alerts, **{f"{prefix}{k}": v for prefix, fam in stats.items()
                                           for k, v in fam.items()}}


def process_new_snapshots(
    spark: SparkSession,
    source_table: str | Path,
    state_dir: str | Path,
    cfg: DedupConfig = DedupConfig(),
) -> dict:
    """One incremental batch: read the source rows added after the snapshot
    the last state commit ingested, alert on duplicates vs state (and within
    the batch), write the batch's alerts and actions, then commit its
    signatures as the next state snapshot. Returns WatchStats-style metrics
    (A5).
    """
    state_dir = Path(state_dir)
    sig_table = state_dir / "signatures"
    have_state = iceberg_lite.is_iceberg_table(sig_table)
    if sig_table.exists() and not have_state:
        raise ValueError(
            f"watch state at {state_dir} holds a signatures dir that is not an Iceberg "
            "table (the retired JSON snapshot-log format, or a bootstrap that died "
            "before its first commit): rebuild the state (delete the state dir and "
            "re-bootstrap)")
    # the match below reads every state snapshot
    summaries = iceberg_lite.snapshot_summaries(sig_table) if have_state else []
    check_signature_settings(summaries, cfg, f"watch state at {state_dir}")
    # progress is what the state committed: one snapshot per batch, each
    # tagged with the source snapshot it ingested (summary values are strings)
    batch_id = len(summaries)
    last = int(summaries[-1]["source_snapshot"]) if summaries else None
    new_rows, latest = iceberg_lite.read_incremental(spark, source_table, last)
    if new_rows is None:
        return {"new_rows": 0, "alerts": 0, "actions": 0, "batch": batch_id,
                "last_source_snapshot": last}

    # F6: re-apply the batch filters to new arrivals (ref main.go:1683-1704
    # runs the same size/pattern checks per watch event)
    new_sigs = with_signatures(apply_prefilters(new_rows, cfg), cfg).select(*SIG_COLS).persist()

    # the whole signatures table is the state side of every match: a band
    # index read more than this scan (README scale notes)
    state = iceberg_lite.read_table(spark, sig_table) if have_state else None
    alerts, match_stats = batch_alerts(new_sigs, state, cfg)
    n_alerts = match_stats["alerts"]
    n_new = new_sigs.count()

    # commit protocol (idempotent replay): alerts/actions overwrite a
    # per-batch directory, and the state append comes last, so a batch that
    # dies before it replays and rewrites identical output
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

    # the commit: tagged with the SOURCE snapshot id, and the signature
    # settings committed with the rows they describe
    iceberg_lite.append_snapshot(new_sigs, sig_table, source_snapshot=latest,
                                 **signature_settings(cfg))

    new_sigs.unpersist()
    alerts.unpersist()
    return {"new_rows": n_new, "actions": n_actions, "batch": batch_id,
            "last_source_snapshot": latest, **match_stats}
