"""The traced run: the batch job and watch mode, one layer at a time.

``batch_chain`` performs what ``jobs/run_dedup.py``'s ``main()`` does with
default flags, but calls each layer's public function under its own span and
materializes the layer's result before the next layer starts, so each
layer's Spark jobs carry its job group. The caller compares the chain's
report row and pair count with an untraced ``main()`` on the same input, so
a chain that drifts from the job fails the run instead of timing something
else.

The chain caches what ``main()`` caches (the signature frame, and the LSH
band tables inside ``near_dup_edges``) plus two frames it needs to keep
layers apart: the near-dup edges and the lifted containment edges. Without
them the components span would recompute LSH and containment. ``main()``
computes the edge verify twice, once for components and once for the pairs
sink; the chain computes it once, so its layer sum is short of the job by
one verify pass. The keeper layer is materialized but not cached: every
sink recomputes the keeper window, as in ``main()``.
"""

from __future__ import annotations

from pathlib import Path


def batch_chain(spark, tracer, input_dir: Path, out: Path, run_dedup) -> dict:
    from pyspark.sql import Observation, Window
    from pyspark.sql import functions as F

    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.operators.components import connected_components
    from file_deduplicator_spark.operators.containment import containment_edges
    from file_deduplicator_spark.operators.keeper import keeper_order_keys
    from file_deduplicator_spark.operators.report import action_plan, cluster_stats, dedup_report
    from file_deduplicator_spark.plans.pipeline import (
        apply_prefilters,
        exact_edges,
        near_dup_edges,
        with_signatures,
    )
    from file_deduplicator_spark.sources import sinks

    cfg = DedupConfig()
    run_id = 1
    extra: dict = {}
    caches: list = []

    with tracer.span("sources.scan"):
        clips = run_dedup.load_clips(spark, str(input_dir))
        clips = clips.withColumn("part", sinks.input_part_expr(clips))
        scanned = apply_prefilters(clips, cfg).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("bytes")).alias("payload_bytes")).first()
    extra["sources.scan.rows"] = scanned["rows"]

    with tracer.span("functions.signatures"):
        sigs = (with_signatures(apply_prefilters(clips, cfg), cfg).drop("bytes")
                .withColumn("digest_root", F.min("clip_id").over(Window.partitionBy("digest")))
                .persist())
        caches.append(sigs)
        row = sigs.agg(F.count(F.lit(1)).alias("rows"),
                       F.sum(F.col("sim_sig").isNull().cast("int")).alias("null_sim")).first()
    extra["functions.signatures.rows"] = row["rows"]
    extra["functions.signatures.null_sim_sig"] = row["null_sim"] or 0

    with tracer.span("operators.lsh"):
        obs = Observation("lsh_buckets")
        e_near = near_dup_edges(sigs, cfg, "clip_id", observation=obs, caches=caches).persist()
        caches.append(e_near)
        n_near = e_near.count()
        lsh_obs = obs.get
    extra["operators.lsh.edges"] = n_near
    extra["operators.lsh.max_bucket"] = lsh_obs.get("max_bucket") or 0
    extra["operators.lsh.capped_dropped_rows"] = lsh_obs.get("capped_dropped_rows") or 0

    with tracer.span("operators.containment"):
        root_map = sigs.select("clip_id", "digest_root")
        lifted = (
            containment_edges(clips, cfg).select("id_a", "id_b")
            .join(root_map.withColumnRenamed("clip_id", "id_a")
                  .withColumnRenamed("digest_root", "root_a"), "id_a")
            .join(root_map.withColumnRenamed("clip_id", "id_b")
                  .withColumnRenamed("digest_root", "root_b"), "id_b")
            .filter(F.col("root_a") != F.col("root_b"))
            .select(F.col("root_a").alias("id_a"), F.col("root_b").alias("id_b"))
        ).persist()
        caches.append(lifted)
        extra["operators.containment.edges"] = lifted.count()

    with tracer.span("operators.components"):
        # eager: edges are checkpointed, labels come back from the driver
        labels, cc = connected_components(e_near.union(lifted).distinct(), cfg.cc_max_iters)
    extra["operators.components.edges"] = cc.get("edges", 0)
    extra["operators.components.iterations"] = cc.get("iterations", 0)
    extra["operators.components.mode"] = cc.get("mode")

    with tracer.span("operators.keeper"):
        lab = labels.select(F.col("id").alias("digest_root"), F.col("cluster_id").alias("_cc"))
        clustered = (sigs.join(lab, "digest_root", "left")
                     .withColumn("cluster_id", F.coalesce(F.col("_cc"), F.col("digest_root")))
                     .drop("_cc"))
        w_ord = Window.partitionBy("cluster_id").orderBy(
            *keeper_order_keys(cfg.keep_criteria, id_col="clip_id"))
        w_cnt = w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        labeled = (
            clustered.withColumn("group_count", F.count(F.lit(1)).over(w_cnt))
            .withColumn("rn", F.row_number().over(w_ord))
            .filter(F.col("group_count") > 1)
            .withColumn("action", F.when(F.col("rn") == 1, F.lit("KEEP")).otherwise(F.lit("DELETE")))
        )
        row = labeled.agg(F.count(F.lit(1)).alias("rows"),
                          F.count_distinct("cluster_id").alias("clusters")).first()
    extra["operators.keeper.labeled_rows"] = row["rows"]
    extra["operators.keeper.clusters"] = row["clusters"]

    with tracer.span("sources.sinks"):
        cluster_stats(labeled, sim_threshold=cfg.effective_threshold).write.mode(
            "overwrite").parquet(str(out / "clusters"))
        exact_edges(sigs, "clip_id").union(e_near).distinct().write.mode(
            "overwrite").parquet(str(out / "pairs"))
        report = sinks.write_report_json(dedup_report(labeled), out / "report.json")
        sinks.append_actions(action_plan(labeled, "clip_id"), out / "actions", run_id=run_id)
        n_parts = sinks.append_partition_lineage(clips, out / "partitions", run_id=run_id)
        (sigs.drop("digest_root").withColumn("run_id", F.lit(run_id))
         .write.mode("append").partitionBy("run_id").parquet(str(out / "signatures")))
        sinks.append_metrics(spark, out / "metrics", run_id,
                             {"cc_edges": cc.get("edges"), "input_partitions": n_parts})

    for df in caches:
        df.unpersist()
    return {"report": report, "extra": extra}


def watch_sequence(spark, tracer, boot: Path, commits: list[Path], work: Path) -> dict:
    """Bootstrap watch state from ``boot``, then replay the fixed commit
    sequence: each Iceberg snapshot commit, then ``process_new_snapshots``."""
    from file_deduplicator_spark.sources import iceberg_lite
    from file_deduplicator_spark.streaming.watch import process_new_snapshots

    src, state = work / "watch_src", work / "watch_state"
    with tracer.span("setup", "bootstrap"):
        iceberg_lite.append_snapshot(spark.read.parquet(str(boot)), src)
        process_new_snapshots(spark, src, state)
    stats = []
    for k, path in enumerate(commits):
        with tracer.span("sources.snapshots", f"commit {k}"):
            iceberg_lite.append_snapshot(spark.read.parquet(str(path)), src)
        with tracer.span("streaming.watch", f"commit {k}"):
            stats.append(process_new_snapshots(spark, src, state))
    files = [p for p in state.rglob("*") if p.is_file()]
    return {
        "bootstrap_s": tracer.walls["setup"][-1],
        "commit_s": list(tracer.walls["streaming.watch"]),
        "new_rows": sum(s["new_rows"] for s in stats),
        "alerts": sum(s["alerts"] for s in stats),
        "state_files": len(files),
        "state_bytes": sum(p.stat().st_size for p in files),
        "alerts_dir": state / "alerts",
    }
