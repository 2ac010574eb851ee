"""The flagship end-to-end dedup pipeline over a clips table.

Relational form (SURVEY §1.3, generalizing main.go:307-520):

    scan(clips) → filter(size, codec) → project(+digest, +sim_sig, +minhash)
    → exact clusters (digest)                                   [A1]
    → near-dup candidates (SimHash bands ∪ MinHash bands) → verify  [A2→LSH]
    → connected components over (exact ∪ verified-near ∪ containment) edges
    → keeper selection per cluster                              [W1]
    → report / action plan / metrics                            [S3-S7]

Scale shape: one wide stage computes all signatures in a single pass over
``bytes`` (column-pruned to id+bytes for the Python stage); the edge list
that feeds CC is tiny relative to the input; everything downstream shuffles
on cluster_id once.

Exact-dup quarantine (SURVEY §7.3 skew): only one representative per digest
enters the near-dup stage — byte-identical rows (e.g. the hot_bucket silence
clips) can't create quadratic LSH buckets; their cluster membership is
recovered by unioning digest edges into CC.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.functions.minhash_sql import (
    minhash_bands_col,
    minhash_fold_col,
    simhash_bands_col,
)
from file_deduplicator_spark.functions.text import MINHASH_SEED, NUM_PERM, SHINGLE_K
from file_deduplicator_spark.functions.udfs import signatures_map_in_arrow
from file_deduplicator_spark.operators.components import attach_clusters, connected_components
from file_deduplicator_spark.operators.containment import (
    containment_candidates,
    fingerprint_rows,
    verify_containment,
)
from file_deduplicator_spark.operators.exact import codec_filter, with_digest
from file_deduplicator_spark.operators.keeper import label_keepers
from file_deduplicator_spark.operators.lsh import (
    band_table,
    bucket_pairs,
    bucket_stats,
    fold_within,
    hamming_within,
    verify_pairs_minhash,
)
from file_deduplicator_spark.operators.report import action_plan, cluster_stats, dedup_report


def apply_prefilters(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Cheap predicates BEFORE the expensive signature stage (filter-then-
    hash, ref main.go:396-441), expressed directly on ``bytes`` so Catalyst
    pushes them into the scan. Shared by the batch pipeline AND watch
    (streaming/watch.py) — the reference re-applies the same size/pattern
    checks per watch event (main.go:1683-1704, F6)."""
    pre = df
    if cfg.min_size > 0 or cfg.max_size > 0:
        size_expr = F.length(F.col("bytes")).cast("long")
        pred = size_expr >= F.lit(cfg.min_size)
        if cfg.max_size > 0:
            pred = pred & (size_expr <= F.lit(cfg.max_size))
        pre = pre.filter(pred)
    return codec_filter(pre, cfg)


def with_signatures(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """digest + size (JVM-side), then the one Arrow signature stage:
    sim_sig (perceptual SimHash) + minhash_sig (transcript MinHash), with
    ``bytes`` crossing to Python once and consumed there (see
    udfs.signatures_map_in_arrow). With ``cfg.perceptual`` off the payload
    is dropped before the stage, so nothing is decoded and sim_sig is null.
    """
    out = with_digest(df, cfg)
    if not cfg.perceptual:
        out = out.drop("bytes")
    return signatures_map_in_arrow(out, cfg.sim_algo, NUM_PERM, SHINGLE_K, MINHASH_SEED)


def exact_edges(sigs: DataFrame, id_col: str = "clip_id") -> DataFrame:
    """Star edges digest-min-id → member (linear, not quadratic, per group).
    Reads the ``digest_root`` column that dedup_pipeline adds."""
    return (
        sigs.filter(F.col("digest_root") != F.col(id_col))
        .select(F.col("digest_root").alias("id_a"), F.col(id_col).alias("id_b"))
    )


def digest_representatives(sigs: DataFrame, id_col: str = "clip_id") -> DataFrame:
    """One row per digest (min id) — the exact-dup quarantine before LSH.
    Reads the ``digest_root`` column that dedup_pipeline adds."""
    return sigs.filter(F.col(id_col) == F.col("digest_root"))


def near_dup_bands(
    sigs: DataFrame, cfg: DedupConfig, id_col: str = "clip_id", caches: list | None = None,
) -> tuple[DataFrame | None, dict[str, DataFrame]]:
    """The near-dup band tables of the digest representatives, keyed by
    metric prefix — ``lsh_`` audio (perceptual only; the 8-byte sim_sig
    rides as the ``sig`` payload) and ``lsh_text_`` text (non-empty
    transcripts; the fold rides as ``fold``) — plus the audio
    signature-star edges (None with perceptual off). Each table is
    persisted into ``caches``: the probe and the bucket groupBy both read
    it, so the explode runs once, spilling to disk if it outgrows memory.
    """
    from pyspark import StorageLevel

    reps = digest_representatives(sigs, id_col)
    sig_star = None
    families: dict[str, DataFrame] = {}

    if cfg.perceptual:
        audio = reps.filter(F.col("sim_sig").isNotNull())
        # second-level quarantine: rows with IDENTICAL signatures (Hamming 0)
        # are linked by linear star edges and enter LSH as one representative
        # — near-identical corpora otherwise re-create the quadratic buckets
        # the digest quarantine just removed.
        from pyspark.sql import Window

        w_sig = Window.partitionBy("sim_sig").orderBy(id_col)
        ranked = audio.select(id_col, "sim_sig").withColumn(
            "_rn", F.row_number().over(w_sig)
        ).withColumn("_root", F.min(id_col).over(w_sig.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        sig_star = (
            ranked.filter(F.col("_rn") > 1)
            .select(F.col("_root").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        sig_reps = ranked.filter(F.col("_rn") == 1).select(id_col, "sim_sig")
        families["lsh_"] = band_table(
            sig_reps, simhash_bands_col(F.col("sim_sig")), id_col, payload={"sig": "sim_sig"},
        )

    # round-4: the 32-byte nibble fold rides the band table so non-matching
    # candidates are rejected INSIDE the bucket expansion (provable-mismatch
    # bound — exactly conservative, verified pair set unchanged); only
    # survivors reach the two verify joins. Measured honestly at the
    # 200k bench fixture: banding (b=16, r=4) is already precise on its
    # bimodal transcripts — 193,548 candidates, all of which pass the
    # verify — so the filter rejects ~nothing THERE and costs ~4 integer ops
    # per in-bucket pair. Its value is adversarial/real corpora
    # (boilerplate-heavy text where band collisions far exceed true pairs),
    # where every rejected candidate saves two join lookups and a shuffle row.
    text = reps.filter(F.length(F.trim(F.col("transcript"))) > 0).withColumn(
        "_mh_fold", minhash_fold_col(F.col("minhash_sig"), NUM_PERM))
    families["lsh_text_"] = band_table(
        text, minhash_bands_col(F.col("minhash_sig")), id_col, payload={"fold": "_mh_fold"},
    )
    for prefix, bt in families.items():
        families[prefix] = bt.persist(StorageLevel.MEMORY_AND_DISK)
        if caches is not None:
            caches.append(families[prefix])
    return sig_star, families


def near_dup_pairs(
    sigs: DataFrame,
    cfg: DedupConfig,
    sig_star: DataFrame | None,
    families: dict[str, DataFrame],
    max_bucket: dict[str, int],
    id_col: str = "clip_id",
    observation=None,
) -> DataFrame:
    """Verified near-dup pairs of near_dup_bands' families, each from the
    one in-bucket pair operator (lsh.bucket_pairs) sized by ``max_bucket``
    (prefix → largest bucket, from lsh.bucket_stats).

    Audio: Hamming ≤ threshold (ref threshold semantics main.go:147 /
    perceptual.go:401-404), fused INTO the bucket pair-expansion
    (lsh.hamming_within), so only true audio edges ever reach a shuffle —
    the round-2.5 rework: at 500k clips the correlated envelope bits made
    the 24-bit table keys collide into 5.7M distinct candidates whose
    distinct+join verify dominated the pipeline, super-linearly.

    Text: lsh.fold_within rejects provably failing pairs in-bucket, then
    slot agreement ≥ jaccard_threshold via lsh.verify_pairs_minhash (the
    512-byte signature is too fat to carry into buckets; its near-uniform
    band keys keep candidate counts ~linear, so the join stays cheap).

    ``observation``: the audio family's bucket_pairs Observation.
    """
    parts = [] if sig_star is None else [sig_star]
    if "lsh_" in families:
        parts.append(bucket_pairs(families["lsh_"], cfg, hamming_within(cfg.effective_threshold),
                                  observation=observation, max_bucket=max_bucket.get("lsh_")))
    pairs_t = bucket_pairs(families["lsh_text_"], cfg, fold_within(NUM_PERM, cfg.jaccard_threshold),
                           max_bucket=max_bucket.get("lsh_text_"))
    parts.append(verify_pairs_minhash(pairs_t, digest_representatives(sigs, id_col),
                                      cfg.jaccard_threshold, id_col).select("id_a", "id_b"))
    # NOTE: a pair verified by BOTH modalities appears twice here.
    # dedup_pipeline applies the one .distinct() and persists the result,
    # which both CC and the pairs sink read.
    return reduce(DataFrame.union, parts)


def near_dup_edges(
    sigs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "clip_id",
    observation=None,
    caches: list | None = None,
) -> DataFrame:
    """Verified near-duplicate pairs from both modalities: near_dup_bands,
    one fused lsh.bucket_stats probe (when ``cfg.salt_buckets`` > 1, so
    bucket_members takes the plain groupBy where it is collect-safe), then
    near_dup_pairs — the pieces dedup_pipeline composes. ``sigs`` must
    carry the ``digest_root`` column dedup_pipeline adds. ``observation``:
    see near_dup_pairs; ``caches`` collects the persisted band tables.
    """
    sig_star, families = near_dup_bands(sigs, cfg, id_col, caches)
    max_bucket: dict[str, int] = {}
    if cfg.salt_buckets > 1:
        max_bucket = {p: st["max_bucket"]
                      for p, st in bucket_stats(families, cfg.bucket_cap).items()}
    return near_dup_pairs(sigs, cfg, sig_star, families, max_bucket, id_col, observation)


def dedup_pipeline(
    clips: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "clip_id",
    containment: bool = False,
    precomputed_sigs: DataFrame | None = None,
) -> dict:
    """Run the full pipeline; returns dict of DataFrames + metrics:
    ``clustered`` (every input row + cluster_id), ``labeled`` (rows of
    duplicate clusters + group_count/rn/action), ``pairs`` (edge list),
    ``report`` (1 row), ``clusters`` (per-cluster rollup), ``plan`` (action
    plan), ``cc_metrics``, ``bucket_stats`` (metric prefix → the four
    lsh.bucket_stats numbers of each band family) and ``caches``.

    ``containment``: also link contained transcripts (containment.py) —
    the fingerprint band table of every signature row is a third band
    family (``containment_``), sized in the same probe job; its verified
    edges are lifted to digest roots and join CC (not the ``pairs`` list).

    ``precomputed_sigs`` is the resume seam (north rule: "resumable from
    checkpoint with per-partition lineage"): a frame with the
    with_signatures output columns (digest/size/sim_sig/minhash_sig, no
    payload) — typically prior-run signature rows for unchanged input
    partitions unioned with freshly computed rows for changed ones
    (jobs/run_dedup.py --resume-from). The scan/decode stage is skipped
    entirely; prefilters are assumed already applied (signatures are
    always recorded post-filter). Everything downstream — digest_root
    contraction, LSH, containment, CC, keeper — is identical to a full run.
    """
    if precomputed_sigs is not None:
        sigs = precomputed_sigs
        if "bytes" in sigs.columns:
            sigs = sigs.drop("bytes")
    else:
        filtered = apply_prefilters(clips, cfg)
        sigs = with_signatures(filtered, cfg)
    # CRITICAL scale rule: the multi-MB payload column must never enter a
    # shuffle. Signatures are extracted in the (narrow) projection stage
    # above; everything downstream — windows over digest/cluster_id, LSH
    # band joins, CC, keeper ranking — runs on the slim columns only.
    # digest_root rides along: one window pass serves both the exact-dup
    # star contraction and representative selection.
    from pyspark import StorageLevel
    from pyspark.sql import Window

    w_digest = Window.partitionBy("digest")
    sigs = sigs.drop("bytes").withColumn("digest_root", F.min(id_col).over(w_digest)).persist()

    # CONTRACTION: exact-duplicate stars are resolved by the digest_root
    # column directly — they never enter the iterative CC. CC runs only on
    # edges BETWEEN digest representatives (near-dup + containment), so its
    # node count is |distinct digests that near-collided|, not |dup rows|.
    caches: list = [sigs]
    sig_star, families = near_dup_bands(sigs, cfg, id_col, caches)
    if containment:
        families["containment_"] = fingerprint_rows(sigs, id_col).persist(
            StorageLevel.MEMORY_AND_DISK)
        caches.append(families["containment_"])
    # one probe job sizes every family (bucket_members then takes the plain
    # groupBy where it is collect-safe), materializes the persisted band
    # tables, and gives the run's bucket-skew metrics
    stats = bucket_stats(families, cfg.bucket_cap)
    max_bucket = {prefix: st["max_bucket"] for prefix, st in stats.items()}
    # persisted once: CC and the pairs sink both read it. The Distinct on
    # top matters — Dataset.union flattens nested unions, so a bare union
    # frame would never match the cache once a consumer unions it again.
    e_near = near_dup_pairs(sigs, cfg, sig_star, families, max_bucket, id_col).distinct().persist()
    caches.append(e_near)
    cc_edges = e_near
    if containment:
        cands = containment_candidates(families["containment_"], cfg, max_bucket["containment_"])
        # containment edges arrive at row granularity — lift to roots
        root_map = sigs.select(F.col(id_col), F.col("digest_root"))
        lifted = (
            verify_containment(cands, sigs, cfg, id_col)
            .join(root_map.withColumnRenamed(id_col, "id_a")
                  .withColumnRenamed("digest_root", "root_a"), "id_a")
            .join(root_map.withColumnRenamed(id_col, "id_b")
                  .withColumnRenamed("digest_root", "root_b"), "id_b")
            .filter(F.col("root_a") != F.col("root_b"))
            .select(F.col("root_a").alias("id_a"), F.col("root_b").alias("id_b"))
        )
        cc_edges = cc_edges.union(lifted)

    # connected_components dedups its input edges itself
    labels, cc_metrics = connected_components(cc_edges, cfg.cc_max_iters)
    # rows inherit the label of their digest root; roots without near-dup
    # edges keep digest_root as the cluster id
    clustered = attach_clusters(sigs, labels, "digest_root")
    # 'pairs' is a user-facing edge list and must not double-count
    all_edges = exact_edges(sigs, id_col).union(e_near).distinct()

    # the one keeper window (group_count, rn, action). The filter drops
    # WHOLE clusters, so ranking before it gives the same rn in every
    # surviving cluster. Persisted slim: clusters, report and plan all
    # read this frame instead of re-running the window.
    labeled = (
        label_keepers(clustered, cfg.keep_criteria, id_col=id_col)
        .filter(F.col("group_count") > 1)
        .select(id_col, "cluster_id", "digest", "size", "group_count", "rn", "action")
        .persist()
    )
    caches.append(labeled)

    return {
        "signatures": sigs,
        "pairs": all_edges,
        "clustered": clustered,
        "labeled": labeled,
        "report": dedup_report(labeled),
        # per-group rollup incl. the reference's similarity display field
        # (main.go:889-893; exact groups = 100.0)
        "clusters": cluster_stats(labeled, sim_threshold=cfg.effective_threshold),
        "plan": action_plan(labeled, id_col),
        "cc_metrics": cc_metrics,
        # bucket-skew metrics (buckets, max_bucket, capped_buckets,
        # capped_dropped_rows) per band family, keyed by metric prefix —
        # every family reports, with or without a pair (north rule: skew
        # metrics surfaced, silent caps logged)
        "bucket_stats": stats,
        # persisted frames backing the result — pass to release_pipeline()
        # when the returned DataFrames are no longer needed
        "caches": caches,
    }


def collect_run_metrics(result: dict) -> dict:
    """Flat run-metrics dict (CC convergence + each band family's bucket
    stats under its prefix: ``lsh_*`` audio, ``lsh_text_*`` text,
    ``containment_*`` fingerprints) ready for sinks.append_metrics — the
    reference's Statistics analog (main.go:46-59, 1507-1565)."""
    out: dict = {}
    cc = result.get("cc_metrics") or {}
    for k in ("iterations", "changed_last", "edges", "edges_sym"):
        v = cc.get(k)
        if isinstance(v, (int, float)):
            out[f"cc_{k}"] = v
    out["cc_converged"] = 1.0 if cc.get("converged") else 0.0
    for prefix, fam in (result.get("bucket_stats") or {}).items():
        out.update({f"{prefix}{k}": v for k, v in fam.items()})
    return out


def release_pipeline(result: dict) -> None:
    """Unpersist every cached frame a dedup_pipeline result holds."""
    for df in result.get("caches", []):
        df.unpersist()
