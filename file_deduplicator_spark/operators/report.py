"""Report aggregates, statistics, and the action-plan sink semantics.

Reference:
* report totals main.go:913-935, 1335-1338 —
  ``total_duplicates = Σ (group_size - 1)``,
  ``total_space      = Σ size · (group_size - 1)`` (reclaimable bytes);
* per-extension statistics main.go:46-59, 1507-1565 (FilesByExt → codec);
* action plan / processDuplicates main.go:1023-1131 — we only ever EMIT the
  plan (dry-run semantics, main.go:127); mutation is a separate explicit step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cluster_stats(
    labeled: DataFrame,
    cluster_col: str = "cluster_id",
    sim_threshold: int | None = None,
) -> DataFrame:
    """Per-cluster rollup: member count, duplicate count, reclaimable bytes.

    With ``sim_threshold`` set, adds the reference's ``similarity`` display
    field (main.go:889-893): exact clusters (every member shares one digest)
    report 100.0; similarity clusters report the fixed threshold formula."""
    aggs = [
        F.count(F.lit(1)).alias("group_count"),
        (F.count(F.lit(1)) - 1).alias("duplicates"),
        F.sum(F.when(F.col("action") == "DELETE", F.col("size")).otherwise(F.lit(0))).alias(
            "reclaimable_bytes"
        ),
    ]
    if sim_threshold is not None and "digest" in labeled.columns:
        from file_deduplicator_spark.functions.format import group_similarity

        aggs.append(
            F.when(F.count_distinct(F.col("digest")) == 1, F.lit(100.0))
            .otherwise(F.lit(group_similarity(sim_threshold)))
            .alias("similarity")
        )
    return labeled.groupBy(cluster_col).agg(*aggs)


def dedup_report(labeled: DataFrame, cluster_col: str = "cluster_id") -> DataFrame:
    """Global one-row report (main.go:1326-1338): group count, duplicate rows,
    reclaimable bytes.

    One aggregate over ``labeled`` (keeper.label_keepers output): every
    cluster has exactly one KEEP row and ``group_count - 1`` DELETE rows, so
    the per-cluster rollup (``cluster_stats``) need not run first.
    ``cluster_col`` is kept for callers; the counts do not read it."""
    delete = F.col("action") == "DELETE"
    return labeled.agg(
        F.count(F.when(F.col("action") == "KEEP", F.lit(1))).alias("duplicate_groups"),
        F.count(F.when(delete, F.lit(1))).alias("duplicate_rows"),
        F.coalesce(F.sum(F.when(delete, F.col("size"))), F.lit(0)).alias("reclaimable_bytes"),
    )


def stats_by_codec(df: DataFrame, codec_col: str = "codec", top_k: int = 10) -> DataFrame:
    """FilesByExt analog (main.go:1546-1559) — top-k codecs by row count.

    The reference prints the first 10 keys of an UNSORTED map (latent
    nondeterminism); we define the deterministic order: count desc, codec asc
    (SURVEY §2.6 L1)."""
    return (
        df.groupBy(codec_col)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("size").alias("bytes"))
        .orderBy(F.desc("n"), F.asc(codec_col))
        .limit(top_k)
    )


def action_plan(labeled: DataFrame, id_col: str = "clip_id") -> DataFrame:
    """The action-plan table: every DELETE row with its cluster + keeper.

    Side effects (Iceberg ``DELETE FROM`` / ``MERGE INTO``) are a separate,
    explicitly-invoked step — parity with -dry-run (main.go:127) and the
    TUI confirmation flow (tui/tui.go:362-366).

    ``labeled`` needs ``rn`` and ``action`` (keeper.label_keepers); the
    keeper is the cluster's rank-1 row, taken by a window, not a join."""
    keeper = F.min_by(F.col(id_col), F.col("rn")).over(Window.partitionBy("cluster_id"))
    return (
        labeled.withColumn("keeper_id", keeper)
        .filter(F.col("action") == "DELETE")
        .select(id_col, "cluster_id", "size", "keeper_id",
                F.lit("remove").alias("planned_action"))
    )
