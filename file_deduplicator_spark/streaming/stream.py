"""Structured Streaming wrapper around the incremental dedup core.

The snapshot-batch path (streaming/watch.py) is the primary production
design (Iceberg incremental reads + engine checkpoints). This wrapper runs
the SAME matching logic as a Structured Streaming job over a file source —
the closest Spark analog of the reference's fsnotify watcher
(runWatchMode main.go:1585-1732):

* file source discovers new parquet files under the watched directory
  (fsnotify Create events, T1)
* micro-batch trigger ≈ the 2 s debounce batching (T2); we default to
  ``availableNow`` for deterministic test runs
* ``foreachBatch`` appends alerts + extends signature state exactly once
  per epoch (Spark streaming checkpoint = resumability)
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.streaming.watch import batch_alerts, compute_signatures

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
    ]
)


def start_watch_stream(
    spark: SparkSession,
    input_dir: str | Path,
    state_dir: str | Path,
    cfg: DedupConfig = DedupConfig(),
    schema: T.StructType = CLIPS_SCHEMA,
    available_now: bool = True,
    processing_time: str = "2 seconds",
):
    """Start the watch stream; returns the StreamingQuery.

    State layout: <state_dir>/signatures (parquet, appended per epoch),
    <state_dir>/alerts, <state_dir>/_spark_checkpoint (Spark's own).
    """
    state_dir = Path(state_dir)
    sig_dir = str(state_dir / "signatures")
    alerts_dir = str(state_dir / "alerts")

    stream = spark.readStream.schema(schema).parquet(str(input_dir))

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # F6: same size/codec prefilters as the batch path (main.go:1683-1704)
        from file_deduplicator_spark.plans.pipeline import apply_prefilters

        new_sigs = compute_signatures(apply_prefilters(batch_df, cfg), cfg).persist()
        try:
            have_state = any(Path(sig_dir).glob("**/*.parquet"))
            state = batch_df.sparkSession.read.parquet(sig_dir) if have_state else None
            alerts = batch_alerts(new_sigs, state, cfg).withColumn("epoch", F.lit(epoch_id))
            # epoch-keyed output paths + overwrite ⇒ a replayed epoch (crash
            # between writes and the streaming checkpoint commit) rewrites
            # identical files instead of appending duplicates
            alerts.write.mode("overwrite").parquet(f"{alerts_dir}/epoch={epoch_id}")
            new_sigs.write.mode("overwrite").parquet(f"{sig_dir}/epoch={epoch_id}")
        finally:
            new_sigs.unpersist()

    writer = stream.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", str(state_dir / "_spark_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
