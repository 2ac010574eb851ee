"""Similarity search over embedding columns (task brief: ANN as a
first-class component).

* ``cosine_topk``        — exact brute-force top-k vs a query vector; the
  correctness baseline. Dot product via ``F.zip_with`` + ``F.aggregate`` —
  JVM-side, no UDF, no Python.
* ``lsh_bucketed_topk``  — the scale path for query top-k: MULTI-TABLE
  random-hyperplane LSH; only rows sharing (or within ``probe_hamming`` bits
  of) the query's bucket in ≥1 table are scored.
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


def lsh_bucketed_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_tables: int = 8,
    bits_per_table: int = 12,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only rows whose bucket is within
    ``probe_hamming`` bits of the query's bucket in AT LEAST ONE table
    (multi-table + multi-probe LSH)."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_tables * bits_per_table, seed)
    qb = bucket_ids_np(np.asarray([query_vec], dtype=np.float64), planes, bits_per_table)[0]
    udf = make_buckets_udf(dim, n_tables, bits_per_table, seed)
    q_lits = F.array(*[F.lit(int(x)) for x in qb])
    bucketed = df.withColumn("_bkts", udf(F.col(vec_col)))
    probed = bucketed.filter(
        F.exists(
            F.zip_with(
                F.col("_bkts"), q_lits,
                lambda b, q: F.bit_count(b.bitwiseXOR(q)) <= F.lit(probe_hamming),
            ),
            lambda hit: hit,
        )
    )
    return cosine_topk(probed.drop("_bkts"), query_vec, k, id_col, vec_col)


def knn_plan(threshold: float, target_recall: float = 0.95,
             n_rows: int | None = None, bucket_target: int = 256,
             min_bits: int = 4) -> tuple[int, int]:
    """(bits_per_table, n_tables) sizing rule for the hyperplane-LSH self
    join — the ANN analog of MinHash (b, r) banding, so a 100 TB user
    derives parameters from (threshold, corpus size) instead of
    inheriting the gate-tuned constants (round-4 advice item 8).

    Two independent dials, solved in order:

    * ``bits_per_table`` comes from OCCUPANCY: expected random-data
      bucket size is n/2^b, so b = ceil(log2(n / bucket_target)) keeps
      per-bucket candidate generation at ~bucket_target rows (the same
      bound bucket_pairs enforces by cap+salt when the data is
      skewed). Without ``n_rows`` it stays at ``min_bits`` — the small-
      fixture scale.
    * ``n_tables`` comes from RECALL: random-hyperplane LSH (Charikar,
      STOC'02) agrees per bit with p = 1 - arccos(s)/pi; a b-bit table
      collides iff all b bits agree, so T tables give
      recall(s) = 1 - (1 - p^b)^T at the DECISION BOUNDARY s =
      threshold (pairs above the threshold recall strictly higher).
      T = ceil(ln(1-R) / ln(1-p^b)).

    The rule REPRODUCES the gate constants instead of replacing them
    with new magic: at the driver-embeddings scale (n≈10^3,
    threshold 0.40) it yields b=4, and T(R=0.999)=41 ≈ the hand-tuned
    48-table config whose measured recall is 1.0. The honest scale
    caveat is visible in the same formula: at n=10^12 occupancy forces
    b≈32, and at a LOW threshold p^b collapses so T explodes — meaning
    low-threshold all-pairs ANN at that scale needs a different
    algorithm (the documented brute/IVF tradeoff), while the near-dup
    regime this engine targets (s ≥ 0.8-0.9, p ≥ 0.80) stays feasible
    (threshold 0.9 → p^32 = 0.007, T(0.95) ≈ 420 tables).
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    b = min_bits
    if n_rows is not None and n_rows > bucket_target:
        b = max(min_bits, math.ceil(math.log2(n_rows / bucket_target)))
    p = 1.0 - math.acos(threshold) / math.pi
    q = p ** b
    if q >= 1.0:
        return b, 1
    t = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - q)))
    return b, t


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
