"""Sinks: report JSON, action-plan/undo (lineage) tables, run-metrics table.

Reference analogs:
* exportReport  (main.go:1325-1355)  → ``write_report_json``
* saveUndoLog / undoLast (main.go:1246-1323) → append-only ``actions``
  table; undoLast's display (main.go:1305-1308) is the oracle-gated
  ``undo_last10`` query in ``__spark_entry__``
* Statistics    (main.go:46-59, 1507-1565)   → ``append_metrics``

All sinks append (never mutate) — the per-partition lineage / resumability
posture of the north rule. Ordinals replace wall-clock timestamps for
determinism; callers may pass a real run timestamp in production.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_report_json(report: DataFrame, out_path: str | Path, version: str = "0.1.0") -> dict:
    """One-row report DataFrame → a single JSON file (driver-side; the
    report is O(1) rows by construction)."""
    row = report.first().asDict()
    doc = {"version": version, **row}
    p = Path(out_path)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps(doc, indent=1, default=str))
    return doc


def append_actions(
    plan: DataFrame, actions_dir: str | Path, run_id: int, snapshot_id: int | None = None
) -> None:
    """Append the action plan to the undo/lineage table, stamped with the
    run id (and source snapshot for incremental runs)."""
    out = (
        plan.withColumn("run_id", F.lit(run_id))
        .withColumn("snapshot_id", F.lit(snapshot_id).cast("long"))
    )
    out.write.mode("append").parquet(str(actions_dir))


def append_metrics(
    spark: SparkSession, metrics_dir: str | Path, run_id: int, metrics: dict
) -> None:
    """Run-metrics table: one row per (run, metric) — CC iterations, bucket
    skew stats, phase timings, row counts.

    The frame is built from an Arrow table, which ships to the JVM as one
    Arrow stream: a Python list (and a pandas frame, which falls back to
    the list path when empty) goes through ``sc.parallelize``, and that
    starts a second Python daemon and worker for a few dozen rows."""
    import pyarrow as pa

    kept = {k: float(v) for k, v in metrics.items() if v is not None}
    table = pa.table(
        {"run_id": pa.array([run_id] * len(kept), type=pa.int64()),
         "metric": pa.array(list(kept), type=pa.string()),
         "value": pa.array(list(kept.values()), type=pa.float64())})
    df = spark.createDataFrame(table, "run_id long, metric string, value double")
    df.coalesce(1).write.mode("append").parquet(str(metrics_dir))


def input_part_expr(clips: DataFrame):
    """Append-stable input-partition key, as a Column.

    For file sources: xxhash64(_metadata.file_path) — one id per FILE,
    the unit in which an append-only (Iceberg-posture) corpus actually
    changes. Two alternatives fail:

    * spark_partition_id() renumbers globally on any append (Spark packs
      splits sorted by file size, so one new file shifts every later
      split's index), flagging bit-identical partitions as changed and
      collapsing a resume into a full recompute.
    * (file_path, _metadata.file_block_start) — the first design — is
      NOT scan-invariant: which block a row is attributed to depends on
      split planning, and split size = min(maxPartitionBytes,
      max(openCostInBytes, totalScanBytes/parallelism)) changes with the
      TOTAL scan size. Measured at 1M clips: the resume's pruned
      single-file scan computed different block starts than the full
      scan that wrote the lineage, the semi join matched nothing, and
      the run SILENTLY dropped every appended row (caught by the
      ground-truth diff, fixed by keying on the file alone).

    File granularity is the honest resume unit anyway: Iceberg appends
    whole data files, so "which files must a resume redo" is exactly the
    question, and one lineage row per file stays metadata-sized at
    100 TB (~100k files at 1 GB each).

    Non-file sources (createDataFrame, catalog connectors without file
    metadata) have no _metadata column; fall back to spark_partition_id —
    lineage still accounts for every row, resume is just conservative.
    """
    try:
        clips.select(F.col("_metadata.file_path"))
        return F.xxhash64(F.col("_metadata.file_path")).alias("part")
    except Exception:
        return F.spark_partition_id().cast("long").alias("part")


def partition_lineage(clips: DataFrame) -> DataFrame:
    """Per-input-partition lineage: (part, rows, min/max clip_id, an
    order-insensitive content checksum). Reads ONLY the clip_id column —
    columnar parquet never touches the payload — so at 100 TB this costs a
    metadata-sized scan, not a data pass. The checksum is the per-partition
    SUM of xxhash64(clip_id): commutative, so it is stable under row order
    within a partition but pins partition MEMBERSHIP — any clip added,
    dropped or moved across splits changes exactly the partitions involved.
    The sum runs in decimal(38,0): on a cluster this job inherits the
    submitter's session, and under ANSI mode a long sum of ~2^63 hashes
    would raise on overflow instead of wrapping.

    A ``part`` column already on ``clips`` (stamped by jobs/run_dedup.py so
    lineage and the recorded signature table share one key) is reused;
    otherwise the append-stable input_part_expr key is computed here.

    ``file_path`` rides along for file sources (all rows of a split share
    one file): a resume uses it to SCAN only the changed files — without
    it, filtering 14 changed partitions out of 1,390 still reads the whole
    22 GB input, because a part-hash predicate cannot push down to the
    file listing (measured: the first 1M-clip resume run was SLOWER than
    a full run for exactly this reason)."""
    try:
        clips.select(F.col("_metadata.file_path"))
        fp = F.col("_metadata.file_path").alias("file_path")
    except Exception:
        fp = F.lit(None).cast("string").alias("file_path")
    if "part" in clips.columns:
        keyed = clips.select("part", "clip_id", fp)
    else:
        keyed = clips.select(input_part_expr(clips), "clip_id", fp)
    return (
        keyed
        .groupBy("part")
        .agg(
            F.count("*").alias("rows"),
            F.min("clip_id").alias("min_clip_id"),
            F.max("clip_id").alias("max_clip_id"),
            F.sum(F.xxhash64("clip_id").cast("decimal(38,0)")).alias("id_checksum"),
            F.min("file_path").alias("file_path"),
        )
    )


def append_partition_lineage(
    clips: DataFrame, lineage_dir: str | Path, run_id: int,
    snapshot_id: int | None = None,
) -> int:
    """Append this run's per-partition lineage rows (north rule: "resumable
    from checkpoint with per-partition lineage + metrics tables"), stamped
    with ``run_id`` and ``snapshot_id``: the id of the ``signatures``
    snapshot the same write committed (null when it committed none), the
    key changed_partitions reads them by. Returns the number of input
    partitions recorded. Collected once as Arrow (one row per input file:
    metadata-sized at 100 TB, see input_part_expr), so the write and the
    count do not run the aggregate again."""
    lin = (
        partition_lineage(clips)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("snapshot_id", F.lit(snapshot_id).cast("long"))
    )
    table = lin.toArrow()
    clips.sparkSession.createDataFrame(table, lin.schema).write.mode("append").parquet(
        str(lineage_dir))
    return table.num_rows


def changed_partitions(
    spark: SparkSession, clips: DataFrame, lineage_dir: str | Path, snapshot_id: int
) -> DataFrame:
    """Resume support: diff the CURRENT input's per-partition lineage against
    the lineage recorded with the ``signatures`` snapshot ``snapshot_id`` (a
    run id written twice holds one lineage per write; lineage without a
    snapshot id matches none, so every partition diffs as changed). Returns
    the partitions that differ (rows or membership checksum) or exist on
    only one side — the work a resumed run must redo; an empty result proves
    the input is bit-identical at the partition level and the prior run's
    outputs can be reused."""
    prev = (
        spark.read.parquet(str(lineage_dir))
        .where(F.col("snapshot_id") == snapshot_id)
        .select("part", F.col("rows").alias("prev_rows"),
                F.col("id_checksum").alias("prev_checksum"))
    )
    cur = partition_lineage(clips).select(
        "part", F.col("rows").alias("cur_rows"),
        F.col("id_checksum").alias("cur_checksum"),
        F.col("file_path").alias("cur_file"))
    joined = cur.join(prev, "part", "full_outer")
    return joined.where(
        F.col("prev_rows").isNull()
        | F.col("cur_rows").isNull()
        | (F.col("prev_rows") != F.col("cur_rows"))
        | (F.col("prev_checksum") != F.col("cur_checksum"))
    )
