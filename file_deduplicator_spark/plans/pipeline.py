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

Quarantine (SURVEY §7.3 skew) is one operator, components.contract, at
three keys: the digest (e.g. the hot_bucket silence clips), then among its
roots sim_sig (audio LSH) and the minhash_sig of rows with text (text LSH,
containment). A class enters pairing as its root plus linear star edges.
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.functions.audio import SIG_KERNEL_VERSION
from file_deduplicator_spark.functions.minhash_sql import (
    has_text_col,
    minhash_bands_col,
    minhash_fold_col,
    simhash_bands_col,
)
from file_deduplicator_spark.functions.text import MINHASH_SEED, NUM_PERM, SHINGLE_K
from file_deduplicator_spark.functions.udfs import signatures_map_in_arrow
from file_deduplicator_spark.operators.components import attach_clusters, connected_components
from file_deduplicator_spark.operators.components import contract, representatives, star_edges
from file_deduplicator_spark.operators.containment import (
    containment_candidates,
    fingerprint_rows,
    verify_containment,
)
from file_deduplicator_spark.operators.exact import codec_filter, size_filter, with_digest
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
    return codec_filter(size_filter(df, cfg, F.length(F.col("bytes")).cast("long")), cfg)


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


def signature_settings(cfg: DedupConfig) -> dict:
    """What a stored with_signatures row depends on beyond its input (the
    MinHash format is fixed), and the apply_prefilters settings that chose
    which input rows were stored; recorded in every ``signatures`` snapshot."""
    return {"sig_kernel_version": SIG_KERNEL_VERSION, "sim_algo": cfg.sim_algo,
            "hash_algo": cfg.hash_algo, "perceptual": cfg.perceptual,
            "min_size": cfg.min_size, "max_size": cfg.max_size,
            "codec_filter": ",".join(sorted(c.lower() for c in cfg.codec_filter))}


def check_signature_settings(summaries: list[dict], cfg: DedupConfig, where: str) -> None:
    """Raise ValueError unless each snapshot summary whose rows are about to
    be read records the signature_settings of ``cfg`` (a snapshot without
    them predates the record): md5 digests never equal sha256 ones, phash
    sims never match dhash ones, and rows kept under other prefilters are
    not the rows this run would keep. ``where`` names the store."""
    for snap in summaries:
        for key, value in signature_settings(cfg).items():
            if snap.get(key) != str(value):
                raise ValueError(
                    f"{where}: snapshot {snap['snapshot_id']} was built with {key}="
                    f"{snap.get(key, '<not recorded>')}, this run has {key}={value}: rebuild "
                    "the state (an empty watch state dir; a run without --resume-from)")


def exact_edges(sigs: DataFrame, id_col: str = "clip_id") -> DataFrame:
    """The digest star edges (components.star_edges) of the ``digest_root``
    column that dedup_pipeline adds."""
    return star_edges(sigs, id_col, "digest_root")


def near_dup_bands(
    audio: DataFrame, text: DataFrame, cfg: DedupConfig, id_col: str = "clip_id",
    carry: tuple[str, ...] = (), text_bands=minhash_bands_col, has_text=has_text_col,
) -> dict:
    """The near-dup band families of batch and watch, keyed by metric prefix
    → (band table, in-bucket ``keep`` for lsh.bucket_pairs), unpersisted:

    * ``lsh_`` — ``audio`` rows with a sim_sig (only when ``cfg.perceptual``);
      the 8-byte sim_sig rides as the ``sig`` payload for lsh.hamming_within.
    * ``lsh_text_`` — ``text`` rows that pass ``has_text`` (minhash_sql
      .has_text_col), banded by ``text_bands``. With the engine's bands the
      nibble fold rides as ``fold`` for lsh.fold_within; the fold bounds
      only the engine's NUM_PERM-slot agreement, so other band builders (the
      gate's portable ones) get no in-bucket filter.

    ``carry`` names extra columns every band table carries as payload (watch
    carries ``in_state``). The caller quarantines before and persists after.
    """
    families: dict = {}
    carried = {c: c for c in carry}
    if cfg.perceptual:
        families["lsh_"] = (
            band_table(audio.filter(F.col("sim_sig").isNotNull()),
                       simhash_bands_col(F.col("sim_sig")), id_col,
                       payload={"sig": "sim_sig", **carried}),
            hamming_within(cfg.effective_threshold))
    rows = text.filter(has_text(F.col("minhash_sig")))
    keep = None
    if text_bands is minhash_bands_col:
        # round-4: the fold rejects pairs INSIDE the bucket expansion and is
        # exactly conservative (verified pair set unchanged). On the 200k
        # bench fixture all 193,548 candidates pass the verify, so it rejects
        # ~nothing there; its value is boilerplate-heavy corpora, where band
        # collisions far exceed true pairs and each rejected candidate saves
        # two join lookups and a shuffle row.
        rows = rows.withColumn("_mh_fold", minhash_fold_col(F.col("minhash_sig"), NUM_PERM))
        carried = {"fold": "_mh_fold", **carried}
        keep = fold_within(NUM_PERM, cfg.jaccard_threshold)
    families["lsh_text_"] = (
        band_table(rows, text_bands(F.col("minhash_sig")), id_col, payload=carried), keep)
    return families


def _batch_families(
    sigs: DataFrame, cfg: DedupConfig, id_col: str, caches: list, containment: bool = False,
) -> tuple[list[DataFrame], dict]:
    """The batch band families over the second-level roots: digest roots
    contract on ``sim_sig`` and, those with text (has_text_col: blank rows
    never contract), on ``minhash_sig``; the families (``containment_``
    too) see those roots only. Equal signatures verify at Hamming 0 /
    agreement 1.0, so each star edge is a pair the family would verify, and
    a class above ``bucket_cap`` stays whole. Each band table is persisted
    into ``caches``: the probe and the bucket groupBy both read it, so the
    explode runs once. Returns (signature and transcript stars, families)."""
    reps = representatives(sigs, id_col, "digest_root")
    stars, audio = [], reps

    def roots(df: DataFrame, key: str) -> DataFrame:
        # persisted: the band table and the star edges both read it
        classes = contract(df, key, id_col).persist()
        caches.append(classes)
        stars.append(star_edges(classes, id_col))
        return representatives(classes, id_col)

    if cfg.perceptual:
        audio = roots(reps.select(id_col, "sim_sig"), "sim_sig")
    text = roots(reps.filter(has_text_col(F.col("minhash_sig")))
                 .select(id_col, "minhash_sig", "transcript"), "minhash_sig")
    families = near_dup_bands(audio, text, cfg, id_col)
    if containment:
        families["containment_"] = (fingerprint_rows(text, id_col), None)
    for prefix, (bt, keep) in families.items():
        families[prefix] = (bt.persist(StorageLevel.MEMORY_AND_DISK), keep)
        caches.append(families[prefix][0])
    return stars, families


def near_dup_pairs(
    sigs: DataFrame,
    cfg: DedupConfig,
    stars: list[DataFrame],
    families: dict,
    max_bucket: dict[str, int],
    id_col: str = "clip_id",
    observation=None,
) -> DataFrame:
    """The ``stars`` of _batch_families plus the verified pairs of the
    ``lsh_`` / ``lsh_text_`` families, each from the one in-bucket pair operator
    (lsh.bucket_pairs) with its family's ``keep``, sized by ``max_bucket``
    (prefix → largest bucket, from lsh.bucket_stats).

    Audio: Hamming ≤ threshold (ref threshold semantics main.go:147 /
    perceptual.go:401-404), fused INTO the bucket pair-expansion
    (lsh.hamming_within), so only true audio edges ever reach a shuffle —
    the round-2.5 rework: at 500k clips the correlated envelope bits made
    the 24-bit table keys collide into 5.7M distinct candidates whose
    distinct+join verify dominated the pipeline, super-linearly.

    Text: the fold pre-filter in-bucket, then the slot agreement ≥
    jaccard_threshold in lsh.verify_pairs_minhash, the one text verify of
    batch and watch (the 512-byte signature is too fat to carry into
    buckets; its near-uniform band keys keep candidate counts ~linear, so
    the join stays cheap).

    ``observation``: the audio family's bucket_pairs Observation.
    """
    parts = list(stars)
    if "lsh_" in families:
        bt, keep = families["lsh_"]
        parts.append(bucket_pairs(bt, cfg, keep, observation=observation,
                                  max_bucket=max_bucket.get("lsh_")))
    bt, keep = families["lsh_text_"]
    pairs_t = bucket_pairs(bt, cfg, keep, max_bucket=max_bucket.get("lsh_text_"))
    parts.append(verify_pairs_minhash(pairs_t, representatives(sigs, id_col, "digest_root"),
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
    """Verified near-duplicate pairs from both modalities: the batch band
    families, one fused lsh.bucket_stats probe (when ``cfg.salt_buckets``
    > 1, so bucket_members takes the plain groupBy where it is
    collect-safe), then near_dup_pairs — the pieces dedup_pipeline
    composes. ``sigs`` must carry the ``digest_root`` column dedup_pipeline
    adds. ``observation``: see near_dup_pairs; ``caches`` collects the
    persisted class and band tables.
    """
    stars, families = _batch_families(sigs, cfg, id_col, [] if caches is None else caches)
    max_bucket: dict[str, int] = {}
    if cfg.salt_buckets > 1:
        max_bucket = {p: st["max_bucket"] for p, st in bucket_stats(
            {p: bt for p, (bt, _) in families.items()}, cfg.bucket_cap).items()}
    return near_dup_pairs(sigs, cfg, stars, families, max_bucket, id_col, observation)


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
    the fingerprint band table of the transcript roots is a third band
    family (``containment_``), sized in the same probe job; its verified
    edges join roots already, so they join CC as they are (not ``pairs``).

    ``precomputed_sigs`` is the resume seam (north rule: "resumable from
    checkpoint with per-partition lineage"): a frame with the
    with_signatures output columns (digest/size/sim_sig/minhash_sig, no
    payload) — typically prior-run signature rows for unchanged input
    partitions unioned with freshly computed rows for changed ones
    (jobs/run_dedup.py --resume-from). The scan/decode stage is skipped
    entirely; prefilters are assumed already applied (signatures are
    always recorded post-filter). Everything downstream — the digest,
    signature and transcript contractions, LSH, containment, CC, keeper —
    is identical to a full run.
    """
    sigs = (precomputed_sigs if precomputed_sigs is not None
            else with_signatures(apply_prefilters(clips, cfg), cfg))
    # CRITICAL scale rule: the multi-MB payload column must never enter a
    # shuffle. Signatures are extracted in the (narrow) projection stage
    # above; everything downstream — windows over digest/cluster_id, LSH
    # band joins, CC, keeper ranking — runs on the slim columns only.
    # CONTRACTION: exact-duplicate stars are resolved by the digest_root
    # column directly — they never enter the iterative CC. CC runs only on
    # edges BETWEEN digest representatives (near-dup + containment), so its
    # node count is |distinct digests that near-collided|, not |dup rows|.
    sigs = contract(sigs.drop("bytes"), "digest", id_col, "digest_root").persist()
    caches: list = [sigs]
    stars, families = _batch_families(sigs, cfg, id_col, caches, containment)
    # one probe job sizes every family (bucket_members then takes the plain
    # groupBy where it is collect-safe), materializes the persisted band
    # tables, and gives the run's bucket-skew metrics
    stats = bucket_stats({p: bt for p, (bt, _) in families.items()}, cfg.bucket_cap)
    max_bucket = {prefix: st["max_bucket"] for prefix, st in stats.items()}
    # persisted once: CC and the pairs sink both read it. The Distinct on
    # top matters — Dataset.union flattens nested unions, so a bare union
    # frame would never match the cache once a consumer unions it again.
    e_near = near_dup_pairs(sigs, cfg, stars, families, max_bucket, id_col).distinct().persist()
    caches.append(e_near)
    cc_edges = e_near
    if containment:
        cands = containment_candidates(families["containment_"][0], cfg, max_bucket["containment_"])
        cc_edges = cc_edges.union(verify_containment(cands, sigs, cfg, id_col))

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
