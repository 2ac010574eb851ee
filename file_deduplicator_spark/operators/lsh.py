"""LSH candidate generation — the scale-safe replacement for the reference's
O(n^2) greedy pairwise scan (``findPerceptualDuplicates`` main.go:868-902).

Topology (SURVEY §7.1 step 4; round-2 single-shuffle design):

    rows ──► band table (explode of band hashes)
         ──► groupBy(band, bh): sorted capped member list  [ONE shuffle]
             (hot buckets detected by a count pass and salted — see
              bucket_members)
         ──► in-array combination expansion  [id_a < id_b by construction]
         ──► distinct candidate pairs
         ──► verify (Hamming ≤ t / signature agreement ≥ s)

Scale notes, explicitly (north_rule: "partitioning / shuffle / skew handled
explicitly"):

* AQE skew-join splits oversized shuffle partitions, but NOT the quadratic
  pair blow-up inside one bucket; that's what ``bucket_cap`` is for: buckets
  above the cap keep their ``cap`` lowest ids (still linking the bucket into
  clusters) and the overflow is COUNTED into the observation metrics —
  no silent drops.
* Dedup of candidate pairs BEFORE the verify stage: a pair can collide in
  many bands; verifying once is the big constant-factor win.
* Exact duplicates should be removed before near-dup pairing (quarantine —
  SURVEY §7.3 "skew"): pass one representative per digest into the LSH stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig

# Largest bucket the plain (unsalted) capped collect may buffer: ~40 B per
# member struct → ~2.6 MB per agg buffer at the bound. Buckets above this
# take the salted two-phase topology regardless of the cap.
SAFE_COLLECT_MAX = 65536


def band_table(df: DataFrame, bands_col, id_col: str = "clip_id",
               payload: dict[str, str] | None = None) -> DataFrame:
    """(id, band, bh[, payload...]) — one row per (row, band). ``bands_col``
    is an array<struct<band,bh>> Column (minhash_bands_col /
    simhash_bands_col). ``payload`` maps output-name → source-column for
    extra columns to carry into the buckets (e.g. the 8-byte sim_sig, so
    the verify predicate can run INSIDE the bucket expansion — see
    candidate_pairs_hamming)."""
    payload = payload or {}
    proj = [F.col(id_col).alias("id"), F.explode(bands_col).alias("e")] + [
        F.col(src).alias(dst) for dst, src in payload.items()
    ]
    return df.select(*proj).select(
        "id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"), *payload.keys()
    )


def bucket_members(band_df: DataFrame, cap: int, salt: int = 1,
                   max_bucket: int | None = None) -> DataFrame:
    """(band, bh, ids, bucket_n): deterministic capped member list per bucket.

    ONE aggregation replaces the round-1 window(count)+window(rank)+self-join
    topology (3 shuffles → 1): per bucket we keep the ``cap`` LOWEST ids
    (sorted collect + slice), so oversized buckets stay linked into clusters
    at bounded cost instead of being dropped; ``bucket_n`` is the TRUE size
    for the skew metrics.

    Skew/salting (north_rule: "partitioning / shuffle / skew handled
    explicitly"), HOT-BUCKET-TARGETED: blanket two-phase salting measured
    45x SLOWER than the plain groupBy on a skew-free band table (76.8s vs
    1.7s, 2.9M band rows — array-of-array merge overhead on millions of
    singleton buckets), so salting is applied only where it pays:

      1. count per (band, bh) — a count aggregate is map-side combinable,
         so even a 10^7-row mega-bucket ships one partial count per mapper
         (this shuffle is skew-safe by construction);
      2. buckets with count > cap (a tiny set — bounded by rows/cap) are
         broadcast; their rows take the salted two-phase capped collect,
         costing each reducer ≤ bucket_n/salt rows;
      3. everything else (the overwhelming majority) takes the single
         groupBy — every bucket ≤ cap rows, bounded reducer memory.

    The salted merge is exact: the global ``cap`` lowest ids are each the
    lowest within their own shard, so pre-capped shards preserve them.

    ADAPTIVE SHORTCUT (round 3, measured): when the band table is CACHED
    (the pipeline persists it anyway for the multi-pass topology), one cheap
    probe job — the map-side-combinable count aggregation + limit(1) — asks
    whether ANY bucket exceeds the cap. On skew-free inputs (the common
    case: the exact-dup and identical-sig quarantines remove the mass-
    collision sources before LSH) the whole anti/semi/two-phase topology
    then collapses to the single plain groupBy: measured 6.5s → 1.7s (text
    bands) and 2.2s → 1.1s (audio bands) warm at 200k clips, identical
    output. Skewed inputs keep the full salted topology; uncached inputs
    skip the probe (it would recompute the band table) and keep the lazy
    3-scan topology unchanged. The probe is a job count, not a key
    collect — nothing unbounded comes to the driver.
    """
    # any payload columns (sig / fold / ...) ride the member struct; ids are
    # unique so array_sort still orders by id (struct comparison is
    # field-ordered and id is first)
    extras = [c for c in band_df.columns if c not in ("id", "band", "bh")]
    member = F.struct("id", *extras) if extras else F.col("id")
    # getattr guard: is_cached is a classic-PySpark property; Spark Connect
    # DataFrames don't expose it — fall back to the lazy salted topology
    # there instead of raising (round-3 advice)
    if salt > 1 and max_bucket is not None:
        # caller already measured the bucket-size maximum (e.g. one fused
        # probe job over several band families — pipeline.near_dup_edges);
        # apply the same collect-safety rule without a second probe job
        if max_bucket <= max(cap, SAFE_COLLECT_MAX):
            salt = 1
    elif salt > 1 and getattr(band_df, "is_cached", False):
        # r06: the probe threshold is the COLLECT-SAFETY bound, not the cap.
        # The plain groupBy below buffers a full bucket before F.slice caps
        # it, so what the salted topology actually protects against is a
        # bucket too big to hold in one agg buffer — not a bucket merely
        # above the cap. Output is IDENTICAL either way (the slice keeps
        # the cap lowest ids in both paths); only the buffer bound differs.
        # The old probe (any bucket_n > cap → full salted topology) made
        # the 200k bench fixture take the counts + anti/semi-join + double
        # groupBy path for text buckets of a few hundred rows (max 2.6k),
        # costing ~2x the plain path. Salting now engages only when a
        # bucket exceeds SAFE_COLLECT_MAX rows (~3 MB of member structs) —
        # the 10^6-row mega-bucket regime it was designed for.
        max_n = (
            band_df.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("bucket_n"))
            .agg(F.max("bucket_n"))
            .collect()[0][0]
        )
        if max_n is None or max_n <= max(cap, SAFE_COLLECT_MAX):
            salt = 1  # collectable buckets → single-shuffle plain path below
    if salt > 1:
        counts = band_df.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("bucket_n"))
        hot_keys = counts.filter(F.col("bucket_n") > cap)
        cold = band_df.join(F.broadcast(hot_keys.select("band", "bh")),
                            ["band", "bh"], "left_anti")
        cold_g = cold.groupBy("band", "bh").agg(
            F.slice(F.array_sort(F.collect_list(member)), 1, cap).alias("ids"),
            F.count(F.lit(1)).alias("bucket_n"),
        )
        hot = band_df.join(F.broadcast(hot_keys.select("band", "bh")),
                           ["band", "bh"], "left_semi")
        hot_shards = hot.groupBy(
            "band", "bh", F.pmod(F.xxhash64("id"), F.lit(salt)).alias("_salt")
        ).agg(
            F.slice(F.array_sort(F.collect_list(member)), 1, cap).alias("ids"),
            F.count(F.lit(1)).alias("n"),
        )
        hot_g = hot_shards.groupBy("band", "bh").agg(
            F.slice(F.array_sort(F.flatten(F.collect_list("ids"))), 1, cap).alias("ids"),
            F.sum("n").alias("bucket_n"),
        )
        return cold_g.unionByName(hot_g)
    return band_df.groupBy("band", "bh").agg(
        F.slice(F.array_sort(F.collect_list(member)), 1, cap).alias("ids"),
        F.count(F.lit(1)).alias("bucket_n"),
    )


def _pair_structs(ids) -> F.Column:
    """All (ids[i], ids[j]) i<j pairs from a sorted id array — JVM-side
    combination expansion, no self-join."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(ids) - F.lit(2)),
            lambda i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda x: F.struct(
                    F.element_at(ids, i + F.lit(1)).alias("id_a"), x.alias("id_b")
                ),
            ),
        )
    )


def candidate_pairs(
    band_df: DataFrame, cfg: DedupConfig, observation=None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs via per-bucket combination
    expansion.

    Shuffle topology: ONE groupBy(band, bh) (+1 with salting) + the distinct
    — vs round-1's window + self-join chain (≥3). ``ids`` arrays are sorted,
    so expansion emits each in-bucket pair once with id_a < id_b already
    ordered; ``distinct`` then dedups across bands (a pair can collide in
    many bands; verifying once is the big constant-factor win).

    ``observation``: optional pyspark Observation; when given, bucket-count /
    max-size / capped-bucket / dropped-row metrics ride the first action for
    free (df.observe — no extra job), feeding the run-metrics table.
    """
    grouped = bucket_members(band_df, cfg.bucket_cap, max(1, cfg.salt_buckets),
                             max_bucket=max_bucket)
    if observation is not None:
        grouped = grouped.observe(
            observation,
            F.count(F.lit(1)).alias("buckets"),
            F.max("bucket_n").alias("max_bucket"),
            F.sum((F.col("bucket_n") > cfg.bucket_cap).cast("long")).alias("capped_buckets"),
            F.sum(
                F.when(F.col("bucket_n") > cfg.bucket_cap,
                       F.col("bucket_n") - cfg.bucket_cap).otherwise(F.lit(0))
            ).alias("capped_dropped_rows"),
        )
    multi = grouped.filter(F.size("ids") > 1)
    # payload-carrying band tables store struct members — project back to
    # bare ids here (payloads are for the FUSED variants; reaching this
    # generic expansion with one must not silently emit struct ids)
    ids = F.col("ids")
    if any(c not in ("id", "band", "bh") for c in band_df.columns):
        ids = F.transform(ids, lambda x: x["id"])
    return (
        multi.select(F.explode(_pair_structs(ids)).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def _verified_pair_structs(ids, threshold: int) -> F.Column:
    """(i<j) member pairs from a sorted array<struct<id,sig>> with the
    Hamming predicate applied INSIDE the expansion — non-matching pairs
    are rejected by a long-xor popcount before any id struct (with its
    string copies) is even built."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(ids) - F.lit(2)),
            lambda i: F.transform(
                F.filter(
                    F.slice(ids, i + F.lit(2), F.size(ids)),
                    lambda x: F.bit_count(
                        x["sig"].bitwiseXOR(F.element_at(ids, i + F.lit(1))["sig"])
                    ) <= F.lit(threshold),
                ),
                lambda x: F.struct(
                    F.element_at(ids, i + F.lit(1))["id"].alias("id_a"),
                    x["id"].alias("id_b"),
                ),
            ),
        )
    )


def candidate_pairs_hamming(
    band_df: DataFrame, cfg: DedupConfig, threshold: int, observation=None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Fused candidate generation + Hamming verify for 64-bit signatures.

    ``band_df`` must carry a ``sig`` column (band_table payload). The
    Hamming predicate ``bit_count(sig_a XOR sig_b) <= threshold`` runs
    INSIDE the per-bucket combination expansion — pure JVM, before any
    row leaves the bucket — so only true edges reach the shuffle/distinct.

    Why this exists (measured, 500k clips): real audio envelope bits are
    heavily correlated, so the 24-bit SimHash table keys collide far above
    the uniform estimate — 10.5M in-bucket pairs -> 5.7M distinct
    candidates, all previously shuffled through a distinct + two verify
    joins (the pipeline's dominant cost at that scale, and super-linear).
    Verifying in-bucket drops ~95% of them before the first shuffle; the
    join-based verify stage disappears for this modality entirely.
    """
    grouped = bucket_members(band_df, cfg.bucket_cap, max(1, cfg.salt_buckets),
                             max_bucket=max_bucket)
    if observation is not None:
        grouped = grouped.observe(
            observation,
            F.count(F.lit(1)).alias("buckets"),
            F.max("bucket_n").alias("max_bucket"),
            F.sum((F.col("bucket_n") > cfg.bucket_cap).cast("long")).alias("capped_buckets"),
            F.sum(
                F.when(F.col("bucket_n") > cfg.bucket_cap,
                       F.col("bucket_n") - cfg.bucket_cap).otherwise(F.lit(0))
            ).alias("capped_dropped_rows"),
        )
    multi = grouped.filter(F.size("ids") > 1)
    return (
        multi.select(F.explode(_verified_pair_structs(F.col("ids"), threshold)).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def _folded_pair_structs(ids, max_mismatch: int) -> F.Column:
    """(i<j) member pairs from a sorted array<struct<id,fold>> with the
    conservative fold pre-filter applied INSIDE the expansion: pairs whose
    PROVABLE slot-mismatch count (fold_mismatch_col — a lower bound on the
    true count) already exceeds the verify budget are rejected before any
    id struct is built or shuffled. Zero false negatives by construction
    (see minhash_fold_col soundness note)."""
    from file_deduplicator_spark.functions.minhash_sql import fold_mismatch_col

    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(ids) - F.lit(2)),
            lambda i: F.transform(
                F.filter(
                    F.slice(ids, i + F.lit(2), F.size(ids)),
                    lambda x: fold_mismatch_col(
                        x["fold"], F.element_at(ids, i + F.lit(1))["fold"]
                    ) <= F.lit(max_mismatch),
                ),
                lambda x: F.struct(
                    F.element_at(ids, i + F.lit(1))["id"].alias("id_a"),
                    x["id"].alias("id_b"),
                ),
            ),
        )
    )


def candidate_pairs_folded(
    band_df: DataFrame, cfg: DedupConfig, max_mismatch: int, observation=None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate generation with the in-bucket MinHash fold pre-filter.

    ``band_df`` must carry a ``fold`` column (band_table payload,
    minhash_fold_col). Same shuffle topology as candidate_pairs — ONE
    groupBy + distinct — but most non-matching candidates die inside the
    bucket expansion (JVM integer ops on 32-byte folds), so the distinct
    and the downstream verify joins see only survivors. The pre-filter is
    exactly conservative: the surviving-pair superset always contains every
    pair the full verify keeps, so the verified output is identical with
    the filter on or off (test_minhash.py pins this).
    """
    grouped = bucket_members(band_df, cfg.bucket_cap, max(1, cfg.salt_buckets),
                             max_bucket=max_bucket)
    if observation is not None:
        grouped = grouped.observe(
            observation,
            F.count(F.lit(1)).alias("buckets"),
            F.max("bucket_n").alias("max_bucket"),
            F.sum((F.col("bucket_n") > cfg.bucket_cap).cast("long")).alias("capped_buckets"),
            F.sum(
                F.when(F.col("bucket_n") > cfg.bucket_cap,
                       F.col("bucket_n") - cfg.bucket_cap).otherwise(F.lit(0))
            ).alias("capped_dropped_rows"),
        )
    multi = grouped.filter(F.size("ids") > 1)
    return (
        multi.select(F.explode(_folded_pair_structs(F.col("ids"), max_mismatch)).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def verify_pairs_minhash(
    pairs: DataFrame,
    sigs: DataFrame,
    min_agreement: float,
    id_col: str = "clip_id",
    sig_col: str = "minhash_sig",
) -> DataFrame:
    """Verify stage for MinHash signatures: slot-agreement fraction (unbiased
    Jaccard estimator) >= min_agreement. Avoids re-shingling inside the join."""
    from file_deduplicator_spark.functions.minhash_sql import sig_agreement_col

    a = sigs.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("sig_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("agreement", sig_agreement_col(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("agreement") >= F.lit(min_agreement))
        .select("id_a", "id_b", "agreement")
    )
