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
* the state's signature settings are recorded in ``_state_settings.json``
  and checked before the stream starts (watch.check_state_settings); a
  state written before that file existed has its first restart's settings
  recorded unchecked, with a warning
"""

from __future__ import annotations

import json
import warnings
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.streaming import watch

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
    <state_dir>/alerts, <state_dir>/_state_settings.json,
    <state_dir>/_spark_checkpoint (Spark's own). Raises ValueError, before
    anything starts, when the state was built with other signature settings.
    """
    state_dir = Path(state_dir)
    sig_dir = str(state_dir / "signatures")
    alerts_dir = str(state_dir / "alerts")
    settings_path = state_dir / "_state_settings.json"
    recorded = json.loads(settings_path.read_text()) if settings_path.exists() else {}
    # the file is written before any epoch runs, so state without it predates
    # the guard: nothing tells what built it, so this run's settings are taken
    if not recorded and any(Path(sig_dir).glob("**/*.parquet")):
        warnings.warn(f"watch stream state at {state_dir} has no {settings_path.name}; "
                      "recording this run's signature settings for it unchecked",
                      stacklevel=2)
    watch.write_json(settings_path, watch.check_state_settings(state_dir, recorded, False, cfg))

    stream = spark.readStream.schema(schema).parquet(str(input_dir))

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # F6: same size/codec prefilters as the batch path (main.go:1683-1704)
        from file_deduplicator_spark.plans.pipeline import apply_prefilters

        new_sigs = watch.compute_signatures(apply_prefilters(batch_df, cfg), cfg).persist()
        try:
            have_state = any(Path(sig_dir).glob("**/*.parquet"))
            state = batch_df.sparkSession.read.parquet(sig_dir) if have_state else None
            alerts, _ = watch.batch_alerts(new_sigs, state, cfg)
            # epoch-keyed output paths + overwrite ⇒ a replayed epoch (crash
            # between writes and the streaming checkpoint commit) rewrites
            # identical files instead of appending duplicates
            alerts.withColumn("epoch", F.lit(epoch_id)).write.mode("overwrite").parquet(
                f"{alerts_dir}/epoch={epoch_id}")
            alerts.unpersist()
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
