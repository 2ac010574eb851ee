"""Exact-duplicate grouping via content digests.

Reference semantics (``findDuplicates``, main.go:807-833, pinned by
main_test.go:926-943): group key is the digest ONLY (size is reported, not
part of the key); a group exists iff count > 1; group "size" = any member's
size (identical bytes ⇒ identical size anyway... the reference takes the
first file's).

Spark-first design: a single hash-aggregate shuffle on the digest. At 10^12
rows we never materialize nested array-of-struct groups (SURVEY §1.1) — the
output is the input plus ``digest``, ``group_count``, ``cluster_id`` columns;
report-level rollups are separate aggregations. Map-side partial aggregation
and AQE partition coalescing come free from expressing this as window/groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.operators.components import class_window, contract

_DIGESTS = {
    "sha256": lambda c: F.sha2(c, 256),
    "sha1": lambda c: F.sha1(c),
    "md5": lambda c: F.md5(c),
}


def digest_col(content: Column, algo: str = "sha256") -> Column:
    """Content digest dispatch — unknown algo falls back to sha256, matching
    ``getHasher`` (main.go:775-786)."""
    return _DIGESTS.get(algo, _DIGESTS["sha256"])(content)


def with_digest(
    df: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    content_col: str = "bytes",
    out_col: str = "digest",
) -> DataFrame:
    """Project a content digest + size (ref ``hashFile`` main.go:788-805 —
    pure column expressions; no UDF, no extra pass over the data)."""
    c = F.col(content_col)
    return df.withColumn(out_col, digest_col(c, cfg.hash_algo)).withColumn(
        "size", F.length(c).cast("long")
    )


def size_filter(df: DataFrame, cfg: DedupConfig, size: str | Column = "size") -> DataFrame:
    """min/max size predicate (ref main.go:396-434): keep
    ``size >= min && (max == 0 || size <= max)``, no filter when both are 0.
    ``size``: a column name or Column (the prefilter's ``length(bytes)``)."""
    if cfg.min_size <= 0 and cfg.max_size <= 0:
        return df
    c = F.col(size) if isinstance(size, str) else size
    pred = c >= F.lit(cfg.min_size)
    if cfg.max_size > 0:
        pred = pred & (c <= F.lit(cfg.max_size))
    return df.filter(pred)


def codec_filter(df: DataFrame, cfg: DedupConfig, codec_col: str = "codec") -> DataFrame:
    """Analog of the glob -pattern filter (main.go:409-423) / isImageFile
    gate (perceptual.go:434-442): restrict by codec, case-insensitive."""
    if not cfg.codec_filter:
        return df
    return df.filter(F.lower(F.col(codec_col)).isin([c.lower() for c in cfg.codec_filter]))


def exact_dup_clusters(
    df: DataFrame,
    id_col: str = "clip_id",
    digest_col_name: str = "digest",
) -> DataFrame:
    """Rows belonging to an exact-duplicate group (count > 1), labeled with
    ``group_count`` and a deterministic ``cluster_id`` = min(id) over the
    digest (components.contract, a null digest is no group). One shuffle;
    no nested structs.
    """
    w = class_window(digest_col_name, id_col)
    return (
        contract(df, digest_col_name, id_col, "cluster_id")
        .withColumn("group_count", F.count(F.lit(1)).over(w))
        .filter(F.col("group_count") > 1)
    )


def exact_dup_groups(
    df: DataFrame,
    id_col: str = "clip_id",
    digest_col_name: str = "digest",
) -> DataFrame:
    """Group-level view: one row per duplicate group — digest, count, size,
    member count stats. ``groupBy`` (not window) so partial aggregation
    runs map-side; preferred at report scale."""
    return (
        df.groupBy(digest_col_name)
        .agg(
            F.count(F.lit(1)).alias("group_count"),
            F.min(id_col).alias("cluster_id"),
            F.first("size").alias("size"),
        )
        .filter(F.col("group_count") > 1)
    )
