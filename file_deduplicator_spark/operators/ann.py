"""Similarity search over embedding columns: the two operators behind the
``cosine_topk`` and ``knn_self_join`` driver queries.

* ``cosine_topk``        — exact brute-force top-k vs a query vector. Dot
  product via ``F.zip_with`` + ``F.aggregate`` — JVM-side, no UDF, no Python.
* ``knn_self_join``      — embedding-cosine near-duplicate pairs at corpus
  scale: multi-table banded buckets feed the SAME skew-guarded pair
  generator the text/audio LSH uses (operators/lsh.bucket_pairs: capped
  buckets, hot-bucket salting, observable skew metrics), then an exact
  cosine verify.

Multi-table design (round-2 rework; round-1 used ONE 8-plane table = 256
buckets, whose bucket population grows as n/256 — quadratic pair blow-up at
scale, and its cap silently dropped recall): ``n_tables`` independent
``bits_per_table``-plane tables. Bucket count per table = 2^bits scales the
bucket population down exponentially, and a true near-neighbor pair collides
in ≥1 of the tables with probability 1 - (1 - (1-θ/π)^bits)^tables — recall
is tunable without touching the cap.

Bucket computation is ONE vectorized pandas UDF (a single (n, dim) @ (dim,
tables·bits) matmul per Arrow batch) — the `input_hint` pattern: no per-row
Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector. Deterministic
    tie-break on id. Cosine cast to double and rounded for oracle parity."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col(vec_col).cast("array<double>")
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_col(v, q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim))


def _pack_signs(signs: np.ndarray, bits: int) -> np.ndarray:
    """(n, tables*bits) bool → (n, tables) int64 bucket ids."""
    n = signs.shape[0]
    tables = signs.shape[1] // bits
    weights = (1 << np.arange(bits, dtype=np.int64))
    return (
        signs.reshape(n, tables, bits).astype(np.int64) * weights[None, None, :]
    ).sum(axis=2)


def bucket_ids_np(vecs: np.ndarray, planes: np.ndarray, bits: int) -> np.ndarray:
    """numpy kernel shared by the UDF and the driver-side query path."""
    return _pack_signs(vecs @ planes.T > 0, bits)


def make_buckets_udf(dim: int, n_tables: int, bits: int, seed: int = 42):
    """pandas UDF: embedding → array<long>[n_tables] of per-table bucket ids.
    One matmul per Arrow batch — zero per-row Python."""
    planes = hyperplanes(dim, n_tables * bits, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(v.to_numpy())
        b = bucket_ids_np(m.astype(np.float64), planes, bits)
        return pd.Series(list(b))

    return buckets


def knn_self_join(
    df: DataFrame,
    threshold: float = 0.9,
    n_tables: int = 8,
    bits_per_table: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    bucket_cap: int = 256,
    salt_buckets: int = 16,
    observation=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table banded buckets →
    skew-guarded candidate pairs (lsh.bucket_pairs: cap + hot-bucket
    salting + observable metrics) → exact cosine ≥ threshold verify."""
    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.operators.lsh import bucket_pairs

    dim_row = df.select(F.size(vec_col)).first()
    dim = int(dim_row[0])
    udf = make_buckets_udf(dim, n_tables, bits_per_table, seed)
    bands = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(udf(F.col(vec_col))).alias("band", "bh"),
    )
    cfg = DedupConfig(bucket_cap=bucket_cap, salt_buckets=salt_buckets)
    pairs = bucket_pairs(bands, cfg, observation=observation)

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", F.round(cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
