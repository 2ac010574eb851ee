"""spark-submit entry point for the full dedup pipeline (north rule:
"packaged for spark-submit --py-files ... run via spark-submit on a
multi-executor cluster").

Cluster:

    scripts/package_pyfiles.py                       # builds dist/*.zip
    spark-submit --master <cluster> \
        --py-files dist/file_deduplicator_spark.zip \
        jobs/run_dedup.py --input <parquet-or-iceberg> --output /runs/r1

Local smoke (same script, local master from SPARK_GRAFT_CPUS):

    python jobs/run_dedup.py --input /root/testdata/sf0.001 --local \
        --output /tmp/dedup_run

The job writes the reference's output family (SURVEY §2 S3-S7) under
--output: report.json, clusters/, pairs/, action plan appended to the
actions/ lineage table, and a run-metrics row per collected metric.
Reference analog: main() main.go:307-520 (scan -> filter -> hash ->
group -> select keepers -> report/export).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--input", required=True,
                   help="clips table: a parquet path/dir, a directory "
                        "containing clips.parquet, or <catalog>.<db>.<table> "
                        "for an Iceberg catalog configured on the session")
    p.add_argument("--output", required=True, help="run output directory")
    p.add_argument("--local", action="store_true",
                   help="force local[$SPARK_GRAFT_CPUS] master (default: "
                        "defer to spark-submit)")
    p.add_argument("--min-size", type=int, default=0)
    p.add_argument("--max-size", type=int, default=0)
    p.add_argument("--hash-algo", default="sha256")
    p.add_argument("--sim-algo", default="dhash",
                   choices=["dhash", "ahash", "phash"])
    p.add_argument("--sim-threshold", type=int, default=10)
    p.add_argument("--strictness", default="normal")
    p.add_argument("--keep", default="first", dest="keep_criteria",
                   help="oldest|newest|largest|smallest|path:<prefix>|first")
    p.add_argument("--no-perceptual", action="store_true")
    p.add_argument("--no-containment", action="store_true",
                   help="skip the suffix-array contained-transcript stage "
                        "(north_star lists it as a pipeline stage; its "
                        "fingerprints come from the persisted signature "
                        "rows' transcripts, no payload rescan)")
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    p.add_argument("--probe", action="store_true",
                   help="also write a header-only media-probe table "
                        "(container/codec/duration per clip) to "
                        "<output>/probe")
    p.add_argument("--run-id", type=int, default=None,
                   help="lineage run id (default: unix seconds)")
    p.add_argument("--resume-from", type=int, default=None, dest="resume_from",
                   help="prior run id under the same --output: diff the "
                        "current input's per-partition lineage against that "
                        "run's, reuse its recorded signatures for unchanged "
                        "partitions, and re-decode ONLY the changed ones. "
                        "Assumes an append/delete-only corpus (rows "
                        "immutable per clip_id — the Iceberg-table posture) "
                        "and the same --sim-algo, --hash-algo and "
                        "--no-perceptual as the prior run.")
    p.add_argument("--no-save-signatures", action="store_true",
                   help="skip recording the per-clip signature table "
                        "(disables --resume-from against this run)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p.parse_args(argv)


def load_clips(spark, source: str):
    """parquet path, dir with clips.parquet, an Iceberg table DIRECTORY (read
    jar-free via sources/iceberg_lite), or a catalog table name."""
    path = Path(source)
    if path.exists():
        from file_deduplicator_spark.sources import iceberg_lite

        if iceberg_lite.is_iceberg_table(path):
            return iceberg_lite.read_table(spark, path)
        if path.is_dir() and (path / "clips.parquet").exists():
            return spark.read.parquet(str(path / "clips.parquet"))
        return spark.read.parquet(str(path))
    return spark.read.table(source)


_MAX_PRUNE_FILES = 100_000


def build_resume_signatures(spark, clips, cfg, out: Path, prev_run_id: int):
    """Signature frame for a resumed run: prior-run rows for unchanged
    input partitions + freshly computed rows for changed ones.

    The diff comes from sinks.changed_partitions (per-partition row count +
    order-insensitive clip_id checksum) — a partition is reused only when
    BOTH match, so renumbered or re-split partitions conservatively
    recompute. Payload bytes are decoded ONLY for changed partitions; the
    reused rows never touch the input scan at all. The changed-partition
    set rides in a broadcast join (never a driver-side isin literal), so
    the plan shape holds at a 100 TB partition count.
    """
    from pyspark.sql import functions as F

    from file_deduplicator_spark.plans.pipeline import (
        apply_prefilters,
        with_signatures,
    )
    from file_deduplicator_spark.sources import sinks

    sig_dir = out / "signatures"
    if not sig_dir.exists():
        raise SystemExit(
            f"--resume-from {prev_run_id}: no signature table under {out} "
            "(prior run used --no-save-signatures?)")
    changed = sinks.changed_partitions(
        spark, clips, out / "partitions", prev_run_id).persist()
    changed_parts = changed.select("part")
    n_changed = changed_parts.count()

    prev_sigs = (
        spark.read.parquet(str(sig_dir))
        .where(F.col("run_id") == prev_run_id)
        .drop("run_id")
    )
    reused = prev_sigs.join(F.broadcast(changed_parts), "part", "left_anti")
    # FILE pruning for the fresh side: a part-hash predicate cannot push
    # down to the file listing, so filtering clips by changed part would
    # still SCAN the entire input (measured at 1M clips: the resume read
    # all 22 GB to re-decode 14 partitions and lost to a full run).
    # Lineage records each split's file; re-scan ONLY the changed files,
    # then the semi join trims to the changed splits within them. The
    # driver-side path list is bounded by the changed-partition count;
    # above _MAX_PRUNE_FILES (a resume that changed most of the corpus)
    # fall back to the full scan, which the full run pays anyway.
    changed_files = [
        r.cur_file
        for r in changed.select("cur_file").where(
            F.col("cur_file").isNotNull()).distinct().collect()
    ]
    if changed_files and len(changed_files) <= _MAX_PRUNE_FILES:
        fresh_src = spark.read.parquet(*changed_files)
        fresh_src = fresh_src.withColumn(
            "part", sinks.input_part_expr(fresh_src))
    else:
        fresh_src = clips
    fresh_in = fresh_src.join(F.broadcast(changed_parts), "part", "left_semi")
    fresh = with_signatures(apply_prefilters(fresh_in, cfg), cfg).drop("bytes")
    sigs = reused.select(*sorted(reused.columns)).unionByName(
        fresh.select(*sorted(reused.columns)))
    # the persisted changed-partitions frame is still referenced lazily by
    # fresh_in's broadcast semi-join — hand it to the caller for release
    # after the pipeline actions run (it otherwise pins executor storage
    # for the rest of the job — r05 advice)
    info = {"resumed_from": prev_run_id, "changed_partitions": n_changed,
            "_release": [changed]}
    return sigs, info


def main(argv: list[str] | None = None) -> dict:
    args = parse_args(argv)

    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.plans.pipeline import (
        collect_run_metrics,
        dedup_pipeline,
        release_pipeline,
    )
    from file_deduplicator_spark.session import get_spark
    from file_deduplicator_spark.sources import sinks

    spark = get_spark(
        app_name="dedup_run",
        master=None if args.local else "",
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg = DedupConfig(
        min_size=args.min_size,
        max_size=args.max_size,
        hash_algo=args.hash_algo,
        perceptual=not args.no_perceptual,
        sim_algo=args.sim_algo,
        sim_threshold=args.sim_threshold,
        strictness=args.strictness,
        keep_criteria=args.keep_criteria,
        jaccard_threshold=args.jaccard_threshold,
    )
    run_id = args.run_id if args.run_id is not None else int(time.time())
    out = Path(args.output)

    t0 = time.monotonic()
    from pyspark.sql import functions as F

    clips = load_clips(spark, args.input)
    # append-stable input-partition id per row, stamped at the scan (all
    # signature stages are narrow, so it survives to the recorded signature
    # table) — the one key the per-partition lineage, the resume diff, and
    # the signature checkpoint share
    clips = clips.withColumn("part", sinks.input_part_expr(clips))

    precomputed = None
    resume_info = None
    if args.resume_from is not None:
        precomputed, resume_info = build_resume_signatures(
            spark, clips, cfg, out, args.resume_from)

    result = dedup_pipeline(clips, cfg, containment=not args.no_containment,
                            precomputed_sigs=precomputed)

    # clusters + pairs land as parquet (distributed writes); the O(1)-row
    # report goes to a single JSON file; the action plan appends to the
    # undo/lineage table so undoLast keeps working across runs.
    if args.probe:
        # corpus inventory: header-only metadata per payload (what codecs
        # are in this bucket, how many undecodable rows) — runs before any
        # decode so a probe of a 100 TB table costs one column-pruned scan
        from file_deduplicator_spark.operators.multimodal import probe_media

        probe_media(clips, id_col="clip_id").write.mode("overwrite").parquet(
            str(out / "probe"))
    result["clusters"].write.mode("overwrite").parquet(str(out / "clusters"))
    result["pairs"].write.mode("overwrite").parquet(str(out / "pairs"))
    report = sinks.write_report_json(result["report"], out / "report.json")
    sinks.append_actions(result["plan"], out / "actions", run_id=run_id)
    n_parts = sinks.append_partition_lineage(
        clips, out / "partitions", run_id=run_id)
    if not args.no_save_signatures:
        # per-clip signature checkpoint keyed by run_id: what a later
        # --resume-from run reuses for unchanged partitions. Slim columns
        # only (payload never re-enters); appending reuses the pipeline's
        # persisted sigs frame, so it costs one extra write, no recompute.
        (result["signatures"].drop("digest_root")
         .withColumn("run_id", F.lit(run_id))
         .write.mode("append").partitionBy("run_id")
         .parquet(str(out / "signatures")))

    metrics = collect_run_metrics(result)
    if resume_info:
        for df in resume_info.pop("_release", []):
            try:
                df.unpersist()
            except Exception:
                pass
        metrics.update(resume_info)
    metrics["input_partitions"] = n_parts
    metrics["wall_sec"] = round(time.monotonic() - t0, 3)
    sinks.append_metrics(spark, out / "metrics", run_id, metrics)
    release_pipeline(result)

    summary = {"run_id": run_id, "output": str(out), "report": report,
               "metrics": metrics}
    print(json.dumps(summary, default=str))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
