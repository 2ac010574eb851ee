"""Keeper selection — which row of each duplicate cluster to KEEP.

Reference ``selectFileToKeep`` main.go:967-1021 (tests main_test.go:1030-1156):
criteria oldest/newest/largest/smallest/path:<substr>/first; ties resolved
first-seen-wins. The reference's "first seen" is its nondeterministic scan
order (completion order of the hash worker pool, main.go:619-623); we restore
determinism by always tie-breaking on the stable id (SURVEY §4 item 3).

Expressed as one window rank per cluster — a single shuffle on cluster_id,
which at scale is the same shuffle the clustering step already produced, so
AQE typically reuses the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keeper_order_keys(
    criteria: str,
    id_col: str = "clip_id",
    mtime_col: str = "mtime",
    size_col: str = "size",
    path_col: str = "clip_id",
) -> list[Column]:
    """Window ORDER BY keys per criteria; final key is always the stable id."""
    tiebreak = F.col(id_col).asc()
    if criteria == "oldest":
        keys = [F.col(mtime_col).asc()]
    elif criteria == "newest":
        keys = [F.col(mtime_col).desc()]
    elif criteria == "largest":
        keys = [F.col(size_col).desc()]
    elif criteria == "smallest":
        keys = [F.col(size_col).asc()]
    elif criteria.startswith("path:"):
        substr = criteria[5:]
        # first row whose path contains substr; fallback = first row
        # (main.go:1012-1016: no match → keep index 0)
        keys = [F.col(path_col).contains(substr).desc_nulls_last()]
    else:  # "first" / default → stable ingest order (main.go:1018-1020)
        keys = []
    return keys + [tiebreak]


def label_keepers(
    clustered: DataFrame,
    criteria: str = "first",
    cluster_col: str = "cluster_id",
    id_col: str = "clip_id",
    mtime_col: str = "mtime",
    size_col: str = "size",
    path_col: str | None = None,
) -> DataFrame:
    """Add ``group_count`` (cluster size), ``rn`` and ``action`` ('KEEP'
    rank 1, else 'DELETE' — main.go:948-954).

    The count shares the rank's partition and order spec (with an unbounded
    frame), so both evaluate in one Window operator over one sort."""
    keys = keeper_order_keys(
        criteria, id_col=id_col, mtime_col=mtime_col, size_col=size_col,
        path_col=path_col or id_col,
    )
    w = Window.partitionBy(cluster_col).orderBy(*keys)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        clustered.withColumn("group_count", F.count(F.lit(1)).over(w_all))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("action", F.when(F.col("rn") == 1, F.lit("KEEP")).otherwise(F.lit("DELETE")))
    )
