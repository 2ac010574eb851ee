"""LSH candidate generation — the scale-safe replacement for the reference's
O(n^2) greedy pairwise scan (``findPerceptualDuplicates`` main.go:868-902).

Topology (SURVEY §7.1 step 4; round-2 single-shuffle design):

    rows ──► band table (explode of band hashes)
         ──► groupBy(band, bh): sorted capped member list  [ONE shuffle]
             (buckets too big to collect are salted — see bucket_members)
         ──► in-array combination expansion, optional in-bucket predicate
             [id_a < id_b by construction]                   (bucket_pairs)
         ──► distinct candidate pairs
         ──► verify (Hamming ≤ t / signature agreement ≥ s)

Scale notes, explicitly (north_rule: "partitioning / shuffle / skew handled
explicitly"):

* AQE skew-join splits oversized shuffle partitions, but NOT the quadratic
  pair blow-up inside one bucket; that's what ``bucket_cap`` is for: buckets
  above the cap keep their ``cap`` lowest ids (still linking the bucket into
  clusters) and the overflow is COUNTED by bucket_stats, the one probe
  that sizes every band family — no silent drops.
* Dedup of candidate pairs BEFORE the verify stage: a pair can collide in
  many bands; verifying once is the big constant-factor win.
* Exact duplicates should be removed before near-dup pairing (quarantine —
  SURVEY §7.3 "skew"): pass one representative per digest into the LSH stage.
"""

from __future__ import annotations

from functools import reduce

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
    bucket_pairs' ``keep``)."""
    payload = payload or {}
    proj = [F.col(id_col).alias("id"), F.explode(bands_col).alias("e")] + [
        F.col(src).alias(dst) for dst, src in payload.items()
    ]
    return df.select(*proj).select(
        "id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"), *payload.keys()
    )


def bucket_members(band_df: DataFrame, cap: int, salt: int = 1,
                   max_bucket: int | None = None, rank: str | None = None) -> DataFrame:
    """(band, bh, ids, bucket_n): deterministic capped member list per bucket.

    ONE aggregation replaces the round-1 window(count)+window(rank)+self-join
    topology (3 shuffles → 1): per bucket we keep the ``cap`` LOWEST ids
    (sorted collect + slice), so oversized buckets stay linked into clusters
    at bounded cost instead of being dropped; ``bucket_n`` is the TRUE size
    for the skew metrics. ``rank``: a payload column that leads the sort, so
    members order by (rank, id) and the cap keeps the lowest ranks first.

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

    ``max_bucket``: the caller-measured largest bucket (bucket_stats gets
    it for every band family from one fused probe job). The plain
    groupBy buffers a whole bucket before F.slice caps it, so what salting
    protects against is a bucket too big for one agg buffer, not one merely
    above the cap: with a known ``max_bucket ≤ max(cap, SAFE_COLLECT_MAX)``
    the single plain groupBy runs (identical output). An unknown
    ``max_bucket`` with ``salt > 1`` takes the salted topology.
    """
    # any payload columns (sig / fold / ...) ride the member struct; ids are
    # unique so array_sort still orders by (rank,) id (struct comparison is
    # field-ordered and those come first)
    extras = [c for c in band_df.columns if c not in ("id", "band", "bh", rank)]
    lead = [rank] if rank else []
    member = F.struct(*lead, "id", *extras) if lead or extras else F.col("id")
    if max_bucket is not None and max_bucket <= max(cap, SAFE_COLLECT_MAX):
        salt = 1
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


def bucket_stats(band_tables: dict[str, DataFrame], cap: int) -> dict[str, dict[str, int]]:
    """Per named band table (named by metric prefix in the batch and watch
    paths), its bucket metrics — ``buckets``, ``max_bucket``,
    ``capped_buckets``, ``capped_dropped_rows`` against ``cap`` — before
    the expansion runs: ONE probe for every family, with one bucket-count
    shuffle keyed by (fam, band, bh), which also materializes every
    persisted band table. bh types differ only when the portable (string)
    MinHash bands meet the engine's long ones."""
    bh = F.col("bh")
    if len({dict(bt.dtypes)["bh"] for bt in band_tables.values()}) > 1:
        bh = bh.cast("string")
    keys = [bt.select(F.lit(fam).alias("fam"), "band", bh.alias("bh"))
            for fam, bt in band_tables.items()]
    sizes = reduce(DataFrame.unionByName, keys).groupBy("fam", "band", "bh").agg(
        F.count(F.lit(1)).alias("n"))
    over = F.col("n") - cap
    rows = sizes.groupBy("fam").agg(
        F.count(F.lit(1)).alias("buckets"),
        F.max("n").alias("max_bucket"),
        F.count(F.when(over > 0, 1)).alias("capped_buckets"),
        F.sum(F.greatest(over, F.lit(0))).alias("capped_dropped_rows"),
    ).collect()
    # a family without rows has no bucket, hence no row here: all zeros
    names = ("buckets", "max_bucket", "capped_buckets", "capped_dropped_rows")
    out = {fam: dict.fromkeys(names, 0) for fam in band_tables}
    for row in rows:
        out[row["fam"]] = {k: row[k] for k in names}
    return out


def member_pairs(ms, emit, keep=None) -> F.Column:
    """``emit(ms[i], ms[j])`` for every i<j pair of a sorted member array —
    JVM-side combination expansion, no self-join. ``keep(x, y)``, when
    given, runs INSIDE the expansion: a rejected pair never gets its output
    struct (with its string copies) built, let alone shuffled. Callers
    drop arrays of fewer than two members first."""

    def row(i):
        x = F.element_at(ms, i + F.lit(1))
        rest = F.slice(ms, i + F.lit(2), F.size(ms))
        if keep is not None:
            rest = F.filter(rest, lambda y: keep(x, y))
        return F.transform(rest, lambda y: emit(x, y))

    return F.flatten(F.transform(F.sequence(F.lit(0), F.size(ms) - F.lit(2)), row))


def hamming_within(threshold: int):
    """In-bucket verify for 64-bit signatures carried as the ``sig`` payload:
    ``bit_count(sig_a XOR sig_b) <= threshold``.

    Why in-bucket (measured, 500k clips): real audio envelope bits are
    heavily correlated, so the 24-bit SimHash table keys collide far above
    the uniform estimate — 10.5M in-bucket pairs -> 5.7M distinct
    candidates, all previously shuffled through a distinct + two verify
    joins (the pipeline's dominant cost at that scale, and super-linear).
    Verifying in-bucket drops ~95% of them before the first shuffle; the
    join-based verify stage disappears for this modality entirely."""
    return lambda x, y: F.bit_count(x["sig"].bitwiseXOR(y["sig"])) <= F.lit(threshold)


def fold_within(num_perm: int, min_agreement: float):
    """In-bucket MinHash pre-filter over the ``fold`` payload
    (minhash_sql.minhash_fold_col): reject pairs whose PROVABLE slot-mismatch
    count (fold_mismatch_col — a lower bound on the true count) already
    exceeds the verify budget. Exactly conservative: every pair that
    verify_pairs_minhash keeps at ``min_agreement`` survives (test_minhash
    pins this), so the filter only spares the distinct and the verify joins
    the rows it rejects."""
    from file_deduplicator_spark.functions.minhash_sql import fold_mismatch_col

    # Smallest agreement count k the verify accepts, computed with the SAME
    # double-division compare the verify uses (k/num_perm >= min_agreement)
    # — math.ceil(t * num_perm) overshoots when t*num_perm is an exact
    # integer (ceil(0.55*400) == 221 in IEEE double), which would make the
    # pre-filter drop pairs the verify keeps.
    k_min = next((k for k in range(num_perm + 1) if k / num_perm >= min_agreement),
                 num_perm + 1)
    max_mismatch = num_perm - k_min
    return lambda x, y: fold_mismatch_col(x["fold"], y["fold"]) <= F.lit(max_mismatch)


def bucket_pairs(
    band_df: DataFrame, cfg: DedupConfig, keep=None, observation=None,
    max_bucket: int | None = None, emit=None, rank: str | None = None, distinct: bool = True,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs via per-bucket combination
    expansion — the one in-bucket pair operator for every band family.

    Shuffle topology: ONE groupBy(band, bh) (+ the salted topology for hot
    buckets, see bucket_members) + the distinct — vs round-1's window +
    self-join chain (≥3). ``ids`` arrays are sorted, so expansion emits each
    in-bucket pair once with id_a < id_b already ordered; ``distinct`` then
    dedups across bands (a pair can collide in many bands; verifying once
    is the big constant-factor win).

    ``keep(x, y)``: optional in-bucket predicate over two member structs
    (hamming_within / fold_within), so rejected pairs never reach the
    shuffle. Its payload columns must ride the band table (band_table
    ``payload``); the output is bare ids either way.

    ``observation``: optional pyspark Observation of the same four numbers
    bucket_stats gives, riding the first action (df.observe). Only the
    traced benchmark (perfbench/layers.py) reads it; it loses its row when
    the family yields no pair (AQE swaps the plan for an empty relation),
    so the run metrics come from bucket_stats.

    ``emit(x, y)``: optional output struct of a kept pair of members (x
    sorts before y) in place of (id_a, id_b); its fields are the output
    columns. ``rank``: see bucket_members; members then sort by (rank, id).
    ``distinct=False`` leaves the cross-band dedup to a caller that dedups
    its own output anyway, saving a shuffle.
    """
    grouped = bucket_members(band_df, cfg.bucket_cap, max(1, cfg.salt_buckets),
                             max_bucket=max_bucket, rank=rank)
    if observation is not None:
        over = F.col("bucket_n") - cfg.bucket_cap
        grouped = grouped.observe(
            observation,
            F.count(F.lit(1)).alias("buckets"),
            F.max("bucket_n").alias("max_bucket"),
            F.sum((over > 0).cast("long")).alias("capped_buckets"),
            F.sum(F.greatest(over, F.lit(0))).alias("capped_dropped_rows"),
        )
    has_payload = any(c not in ("id", "band", "bh") for c in band_df.columns)

    def key(m):
        return m["id"] if has_payload else m

    pairs = member_pairs(
        F.col("ids"),
        emit or (lambda x, y: F.struct(key(x).alias("id_a"), key(y).alias("id_b"))),
        keep,
    )
    out = grouped.filter(F.size("ids") > 1).select(F.explode(pairs).alias("p")).select("p.*")
    return out.distinct() if distinct else out


def verify_pairs_minhash(
    pairs: DataFrame,
    sigs: DataFrame,
    min_agreement: float,
    id_col: str = "clip_id",
    sig_col: str = "minhash_sig",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """The one MinHash text verify of batch and watch: keep the pairs whose
    slot-agreement fraction (unbiased Jaccard estimator, minhash_sql
    .sig_agreement_col) is >= min_agreement, with it as ``agreement``.
    ``pair_cols`` names the pair's two id columns (watch's alerts are
    new_id / matched_id); each side takes its signature from ``sigs`` in one
    join, so nothing is re-shingled."""
    from file_deduplicator_spark.functions.minhash_sql import sig_agreement_col

    ca, cb = pair_cols
    a = sigs.select(F.col(id_col).alias(ca), F.col(sig_col).alias("sig_a"))
    b = sigs.select(F.col(id_col).alias(cb), F.col(sig_col).alias("sig_b"))
    return (
        pairs.join(a, ca)
        .join(b, cb)
        .withColumn("agreement", sig_agreement_col(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("agreement") >= F.lit(min_agreement))
        .select(ca, cb, "agreement")
    )
