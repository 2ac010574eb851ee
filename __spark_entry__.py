"""Driver contract for the spark-graft builder (PySpark target).

Maps the engine's operator inventory (SURVEY.md §2) onto the driver's
testdata tables. The clips-specific audio path (pandas-UDF SimHash etc.) is
exercised by pytest on the synthetic clips fixture; here every SQL-
expressible operator gets a DuckDB oracle over the shared parquet tables.

The documents table stands in for the clips table in these checks:
``text`` ↔ transcript, ``n_chars`` ↔ size, ``doc_id`` ↔ clip_id. A "demo
digest" md5(lang|source) plants exact-duplicate groups so the digest-grouping
semantics (count>1, cluster_id = min id — ref main.go:807-833) are exercised
on non-empty results.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.001"

# previous q_minhash_lsh_docs persisted projection (released on next call)
_MINHASH_SIG_CACHE: list = []

# demo digest: documents carry no byte-identical texts, so group on a
# synthetic content key to exercise grouping semantics on real groups.
def _digest_col():
    return F.md5(F.concat_ws("|", F.col("lang"), F.col("source")))


_DIGEST_SQL = "md5(concat(lang, '|', source))"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs_digested(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .withColumn("digest", _digest_col())
        .withColumn("size", F.col("n_chars").cast("long"))
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 findDuplicates group view (main.go:807-833)."""
    from file_deduplicator_spark.operators.exact import exact_dup_groups

    g = exact_dup_groups(_docs_digested(spark, sf_dir), id_col="doc_id")
    return g.select(
        "digest",
        F.col("group_count").cast("long").alias("group_count"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 row view: every row of a duplicate group labeled with cluster id."""
    from file_deduplicator_spark.operators.exact import exact_dup_clusters

    c = exact_dup_clusters(_docs_digested(spark, sf_dir), id_col="doc_id")
    return c.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "digest",
        F.col("group_count").cast("long").alias("group_count"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_keeper_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 selectFileToKeep, criteria=largest (main.go:967-1021)."""
    from file_deduplicator_spark.operators.exact import exact_dup_clusters
    from file_deduplicator_spark.operators.keeper import label_keepers

    c = exact_dup_clusters(_docs_digested(spark, sf_dir), id_col="doc_id")
    lab = label_keepers(c, "largest", id_col="doc_id", mtime_col="doc_id")
    return lab.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("rn").cast("int").alias("rn"),
        "action",
    )


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/S3 report totals (main.go:913-935, 1335-1338)."""
    from file_deduplicator_spark.operators.exact import exact_dup_clusters
    from file_deduplicator_spark.operators.keeper import label_keepers
    from file_deduplicator_spark.operators.report import dedup_report

    c = exact_dup_clusters(_docs_digested(spark, sf_dir), id_col="doc_id")
    lab = label_keepers(c, "first", id_col="doc_id", mtime_col="doc_id")
    return dedup_report(lab).select(
        F.col("duplicate_groups").cast("long").alias("duplicate_groups"),
        F.col("duplicate_rows").cast("long").alias("duplicate_rows"),
        F.col("reclaimable_bytes").cast("long").alias("reclaimable_bytes"),
    )


def q_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/L1 FilesByExt analog: top-10 sources (main.go:1546-1559)."""
    from file_deduplicator_spark.operators.report import stats_by_codec

    return stats_by_codec(
        _docs_digested(spark, sf_dir), codec_col="source", top_k=10
    ).select("source", F.col("n").cast("long").alias("n"),
             F.col("bytes").cast("long").alias("bytes"))


def q_size_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 min/max size filter (main.go:396-434) + per-lang rollup."""
    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.operators.exact import size_filter

    cfg = DedupConfig(min_size=100, max_size=400)
    df = size_filter(_docs_digested(spark, sf_dir), cfg)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("size").cast("long").alias("total_size"),
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (BPE-ish regex) rolled up by lang."""
    from file_deduplicator_spark.operators.textops import token_count_col

    return (
        _docs(spark, sf_dir)
        .withColumn("tc", token_count_col(F.col("text")))
        .groupBy("lang")
        .agg(
            F.sum("tc").cast("long").alias("total_tokens"),
            F.round(F.avg("tc"), 6).alias("avg_tokens"),
        )
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal columns per document."""
    from file_deduplicator_spark.operators.textops import doc_quality

    return doc_quality(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_chars_m", "n_words", "alpha_ratio", "digit_ratio",
        "punct_ratio", "avg_word_len",
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard set-similarity self-join (≥ 0.35)."""
    from file_deduplicator_spark.operators.textops import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.35).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 embedding."""
    from file_deduplicator_spark.operators.ann import cosine_topk

    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter("vec_id = 0").select("embedding").first()[0]]
    return cosine_topk(emb.filter("vec_id != 0"), qv, k=10, id_col="vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"), "cosine"
    )


def q_undo_last10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 undo display: last 10 actions by timestamp (main.go:1305-1308)."""
    ev = _events(spark, sf_dir)
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(10)
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
            F.col("user_id").cast("long").alias("user_id"),
        )
    )


def q_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash LSH over documents — portable md5-based
    hashing (functions/portable.py) so DuckDB computes the identical bands,
    candidates, and agreements (full value-level oracle). The production
    pipeline uses the same band/verify operators over the Arrow signature
    stage's MinHash (blake2b shingle hashes); only the base hash differs."""
    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.functions.portable import (
        portable_minhash_bands_col,
        with_portable_minhash_arrow,
    )
    from file_deduplicator_spark.operators.lsh import (
        band_table,
        bucket_pairs,
        verify_pairs_minhash,
    )

    # cap set far above any sf0.01 bucket so the oracle (uncapped) matches;
    # salt_buckets=1: with the cap above the corpus size no bucket is ever
    # hot, so the salted two-phase topology (counts + anti/semi joins + two
    # groupBys) degenerates to pure overhead — the plain single groupBy
    # produces the identical candidate set (r06, measured −0.6s warm)
    cfg = DedupConfig(jaccard_threshold=0.35, bucket_cap=1_000_000,
                      salt_buckets=1)
    docs = _docs(spark, sf_dir).filter(F.length(F.trim(F.col("text"))) > 0)
    # the md5-per-shingle signature projection is referenced 3x below (band
    # table + both verify sides) — persist so the expensive hash runs once.
    # The driver runs the action AFTER this function returns, so the cache
    # can't be dropped here; instead the previous call's cache is released
    # on the next call (bounds the leak to one slim projection per session).
    while _MINHASH_SIG_CACHE:
        try:
            _MINHASH_SIG_CACHE.pop().unpersist()
        except Exception:
            pass  # cached frame may belong to a stopped session (harness
            # recycled SparkSession between calls) — best-effort release
    # Arrow-stage signature impl (r06) — value-identical to the Column form
    docs = with_portable_minhash_arrow(
        docs.select("doc_id", "text"), "text", "minhash_sig"
    ).select("doc_id", "minhash_sig").persist()
    _MINHASH_SIG_CACHE.append(docs)
    bands = band_table(
        docs, portable_minhash_bands_col(F.col("minhash_sig")), id_col="doc_id"
    )
    pairs = bucket_pairs(bands, cfg)
    return verify_pairs_minhash(
        pairs, docs.select("doc_id", "minhash_sig"), cfg.jaccard_threshold,
        id_col="doc_id", sig_col="minhash_sig",
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("agreement", 6).alias("agreement"),
    )


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document as two 32-bit halves — portable md5-based
    construction so DuckDB reproduces every bit (value-level oracle).
    Arrow-stage impl (r06): value-identical to the Column-expression form
    (tests pin both against each other and the oracle), ~6x faster."""
    from file_deduplicator_spark.functions.portable import (
        with_portable_simhash_arrow,
    )

    out = with_portable_simhash_arrow(
        _docs(spark, sf_dir).select("doc_id", "text"),
        "text", "simhash_hi", "simhash_lo",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("simhash_hi").cast("long").alias("simhash_hi"),
        F.col("simhash_lo").cast("long").alias("simhash_lo"),
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs ≥ threshold) —
    correctness baseline for the LSH-bucketed knn_self_join scale path
    (operators/ann.py; recall vs this measured in pytest)."""
    from file_deduplicator_spark.operators.ann import cosine_col

    emb = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= 0.40)
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            "cosine",
        )
    )


def q_knn_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN SCALE PATH under the driver gate (round-2 verdict directive):
    multi-table hyperplane LSH buckets → shared skew-guarded pair generator
    (capped buckets + hot-bucket salting) → exact cosine verify
    (operators/ann.knn_self_join). Oracle = the exact all-pairs SQL, so a
    green row proves the bucketed operator loses NO pair on this data:
    (bits=4, tables=48, seed=42) measured recall 1.0 at sf0.001/0.01/0.1
    (920/920 at sf0.1); cap is set above the corpus so nothing is dropped.
    """
    from file_deduplicator_spark.operators.ann import knn_self_join

    pairs = knn_self_join(
        _emb(spark, sf_dir),
        threshold=0.40,
        n_tables=48,
        bits_per_table=4,
        id_col="vec_id",
        bucket_cap=1_000_000,
        salt_buckets=16,
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )


def q_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array contained-transcript pairs over documents."""
    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.operators.containment import containment_edges

    edges = containment_edges(
        _docs(spark, sf_dir), DedupConfig(), id_col="doc_id", text_col="text"
    )
    return edges.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


def q_pattern_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 glob pattern filter (main.go:409-423): glob 'src1*' → LIKE."""
    return (
        _docs(spark, sf_dir)
        .filter(F.col("source").like("src1%"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_digest_algos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 getHasher dispatch (main.go:775-786): md5 + sha256 digests."""
    from file_deduplicator_spark.operators.exact import digest_col

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        digest_col(F.col("text"), "md5").alias("digest_md5"),
        digest_col(F.col("text"), "sha256").alias("digest_sha256"),
        digest_col(F.col("text"), "bogus_algo").alias("digest_fallback"),  # → sha256
    )
    return d


def q_keeper_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 keeper criteria 'newest' over a timestamped table: per
    (user_id, event_type) group keep the latest event (main.go:985-991)."""
    from file_deduplicator_spark.operators.keeper import label_keepers

    ev = _events(spark, sf_dir).withColumn(
        "cluster_id", F.concat_ws("|", F.col("user_id"), F.col("event_type"))
    )
    lab = label_keepers(ev, "newest", id_col="event_id", mtime_col="ts")
    return lab.filter(F.col("action") == "KEEP").select(
        F.col("cluster_id"),
        F.col("event_id").cast("long").alias("event_id"),
    )


def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 per-cluster rollup incl. the reference's similarity display field
    (main.go:889-893: exact clusters report 100.0)."""
    from file_deduplicator_spark.operators.exact import exact_dup_clusters
    from file_deduplicator_spark.operators.keeper import label_keepers
    from file_deduplicator_spark.operators.report import cluster_stats

    c = exact_dup_clusters(_docs_digested(spark, sf_dir), id_col="doc_id")
    lab = label_keepers(c, "first", id_col="doc_id", mtime_col="doc_id")
    return cluster_stats(lab, sim_threshold=10).select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("group_count").cast("long").alias("group_count"),
        F.col("duplicates").cast("long").alias("duplicates"),
        F.col("reclaimable_bytes").cast("long").alias("reclaimable_bytes"),
        F.round("similarity", 6).alias("similarity"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (winnowing, Schleimer MOSS'03) — portable
    md5-based shingle hashes so DuckDB reproduces every selected fingerprint
    (value-level oracle for the containment candidate kernel)."""
    from file_deduplicator_spark.functions.portable import (
        h31_col,
        portable_shingles,
        portable_words_col,
    )
    from file_deduplicator_spark.functions.text import SHINGLE_K
    from file_deduplicator_spark.operators.containment import (
        WINNOW_WINDOW,
        winnowed_fingerprints_col,
    )

    docs = _docs(spark, sf_dir).filter(F.length(F.trim(F.col("text"))) > 0)
    base = (
        docs.select(F.col("doc_id"), portable_words_col(F.col("text")).alias("_ws"))
        .select("doc_id", portable_shingles(F.col("_ws"), SHINGLE_K).alias("_sh"))
        .select("doc_id", F.transform(F.col("_sh"), lambda s: h31_col(s)).alias("_h"))
        .select("doc_id", winnowed_fingerprints_col(F.col("_h"), WINNOW_WINDOW).alias("fps"))
    )
    return base.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size("fps").cast("long").alias("n_fp"),
        F.array_min("fps").cast("long").alias("min_fp"),
        F.array_max("fps").cast("long").alias("max_fp"),
    )


def q_stats_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube rollup over (lang, source) — SURVEY §2.9 gap op, free in Spark."""
    return (
        _docs(spark, sf_dir)
        .cube("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("n_chars").cast("long").alias("chars"))
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic rollup (training-data pipeline op)."""
    from file_deduplicator_spark.operators.textops import langid_col

    return (
        _docs(spark, sf_dir)
        .withColumn("pred", langid_col(F.col("text")))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 debounce batching, value-level (ref main.go:1709-1718: a trailing
    debounce timer resets on every event and the batch fires when the
    interval elapses with no new arrival; interval is the ``-watch-debounce``
    flag, main.go:155). SQL analog over the events stream: per user, ordered
    by (ts, event_id), a new batch starts when the gap from the previous
    event exceeds the interval. 300 s here — scaled to the synthetic
    table's minutes-apart gaps; the reference default is 2 s on fsnotify
    streams. At runtime T2's cadence is the schedule on which the caller
    runs watch.process_new_snapshots (one batch per call); this query stays
    as the value-level T2 analog."""
    from pyspark.sql import Window

    interval_us = 300 * 1_000_000
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # some fixtures store ts as TIMESTAMP_NTZ; the cast is a constant shift
    # (session tz) and gap arithmetic is shift-invariant
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    starts = F.when(gap.isNull() | (gap > interval_us), 1).otherwise(0)
    batched = ev.withColumn("batch_seq", F.sum(starts).over(frame))
    return (
        batched.groupBy("user_id", "batch_seq")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("event_id").cast("long").alias("first_event"),
            F.max("event_id").cast("long").alias("last_event"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("batch_seq").cast("long").alias("batch_seq"),
            "n_events",
            "first_event",
            "last_event",
        )
    )


def q_watch_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 watch semantics under the value-level gate (round-4 directive 6):
    one incremental watch micro-batch expressed over the documents table
    and run through the PRODUCTION matcher (streaming/watch.batch_alerts —
    the matcher watch.process_new_snapshots runs per batch). Its seam is
    two builders: the portable MinHash bands and the portable has-text
    guard, so DuckDB replicates bands + agreement value-for-value; the
    verify is the engine's own (lsh.verify_pairs_minhash — on the 16-slot
    portable signature its matches / size equals the oracle's matches / 16).

    State = documents with doc_id % 5 != 0 (the already-seen corpus);
    arrivals = doc_id % 5 = 0. The NEW arrival is the victim (SURVEY §2.7
    note; ref main.go:1846-1886): output one row per (arrival, kind) with
    keeper_id = the min matched pre-existing doc and the match count. The
    matcher also alerts between arrivals (the later id is the victim); the
    oracle has no within-batch matches, so those alerts (matched_id % 5 = 0)
    are dropped."""
    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.functions.portable import (
        EMPTY_SLOT_P,
        portable_minhash_bands_col,
        with_portable_minhash_arrow,
    )
    from file_deduplicator_spark.streaming.watch import batch_alerts

    cfg = DedupConfig(jaccard_threshold=0.35)
    frame = (
        with_portable_minhash_arrow(
            _docs_digested(spark, sf_dir).select("doc_id", "digest", "size",
                                                 "text"),
            "text", "minhash_sig")
        .select(F.col("doc_id").alias("clip_id"), "digest", "size",
                F.lit(None).cast("long").alias("sim_sig"), "minhash_sig")
    )
    arrivals = frame.filter(F.col("clip_id") % 5 == 0)
    state = frame.filter(F.col("clip_id") % 5 != 0)
    alerts, _ = batch_alerts(
        arrivals, state, cfg,
        include=("exact", "similar_text"),
        mh_bands_builder=portable_minhash_bands_col,
        mh_guard=lambda sig: F.element_at(sig, 1) != F.lit(EMPTY_SLOT_P),
    )
    return alerts.filter(F.col("matched_id") % 5 != 0).groupBy("new_id", "match_kind").agg(
        F.min("matched_id").cast("long").alias("keeper_id"),
        F.countDistinct("matched_id").cast("long").alias("n_matches"),
    ).select(F.col("new_id").cast("long").alias("new_id"), "match_kind",
             "keeper_id", "n_matches")


def q_iceberg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 write -> read fidelity under the value-level gate
    (sources/iceberg_lite.py; north rule: the dedup source is an Iceberg
    table). Writes documents into a spec-conformant v2 table — metadata
    JSON + Avro manifest list/manifests + parquet data files — in a scratch
    dir, reads it back through the manifest chain, and aggregates with a
    per-row md5 text checksum, so any corruption anywhere in the roundtrip
    flips the value hash vs the oracle (which reads the original parquet)."""
    import shutil
    from pathlib import Path

    from file_deduplicator_spark.sources.iceberg_lite import (
        append_snapshot,
        read_table,
    )

    # scratch table under the repo's gitignored fixture cache, keyed by pid
    # so two concurrent gate/bench runs at the same sf never race on one
    # table (one rmtree-ing while the other reads its manifest chain)
    import os

    cache = Path(__file__).resolve().parent / ".cache"
    cache.mkdir(exist_ok=True)
    tbl = cache / f"gate_iceberg_{Path(sf_dir).name}_{os.getpid()}"
    shutil.rmtree(tbl, ignore_errors=True)
    try:
        append_snapshot(_docs(spark, sf_dir), tbl)
        docs = read_table(spark, tbl)
        # 48-bit md5 prefix per row: sums stay well inside int64 at any sf
        ck = F.conv(F.substring(F.md5(F.col("text")), 1, 12), 16, 10).cast(
            "long")
        out = docs.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(ck).cast("long").alias("text_checksum"),
        )
        # the driver collects lazily after this returns — materialize the
        # roundtrip read NOW so the scratch files can be deleted safely
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: digest dedup → keeper labeling over sf0.001 documents."""
    from file_deduplicator_spark.operators.exact import exact_dup_clusters
    from file_deduplicator_spark.operators.keeper import label_keepers

    c = exact_dup_clusters(_docs_digested(spark, SF001), id_col="doc_id")
    lab = label_keepers(c, "largest", id_col="doc_id", mtime_col="doc_id")
    return lab.select("doc_id", "digest", "cluster_id", "group_count", "action")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_groups": q_exact_dup_groups,
        "exact_dup_clusters": q_exact_dup_clusters,
        "keeper_selection": q_keeper_selection,
        "dedup_report": q_dedup_report,
        "stats_by_source": q_stats_by_source,
        "size_filter": q_size_filter,
        "token_count": q_token_count,
        "doc_quality": q_doc_quality,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_topk": q_embedding_topk,
        "embedding_neardup": q_embedding_neardup,
        "knn_self_join": q_knn_self_join,
        "undo_last10": q_undo_last10,
        "minhash_lsh_docs": q_minhash_lsh_docs,
        "simhash_docs": q_simhash_docs,
        "containment_docs": q_containment_docs,
        "cluster_stats": q_cluster_stats,
        "doc_fingerprint": q_doc_fingerprint,
        "pattern_filter": q_pattern_filter,
        "digest_algos": q_digest_algos,
        "keeper_newest": q_keeper_newest,
        "stats_cube": q_stats_cube,
        "langid": q_langid,
        "events_debounce": q_events_debounce,
        "iceberg_roundtrip": q_iceberg_roundtrip,
        "watch_arrivals": q_watch_arrivals,
    }


def _minhash_oracle() -> str:
    from file_deduplicator_spark.functions.portable import minhash_lsh_oracle_sql

    return minhash_lsh_oracle_sql(threshold=0.35)


def _simhash_oracle() -> str:
    from file_deduplicator_spark.functions.portable import simhash_oracle_sql

    return simhash_oracle_sql()


def _watch_oracle() -> str:
    from file_deduplicator_spark.functions.portable import watch_oracle_sql

    return watch_oracle_sql(_DIGEST_SQL, threshold=0.35)


def oracle_sql() -> dict[str, str]:
    from file_deduplicator_spark.functions.portable import P31, sql_hex_int

    digest = _DIGEST_SQL
    # portable 31-bit shingle hash (same construction as the minhash oracle)
    _SQL_H31 = f"{sql_hex_int('md5(s)', 1, 15)} % {P31}"
    return {
        "exact_dup_groups": f"""
            SELECT {digest} AS digest,
                   count(*) AS group_count,
                   min(doc_id) AS cluster_id
            FROM documents
            GROUP BY 1
            HAVING count(*) > 1
        """,
        "exact_dup_clusters": f"""
            WITH d AS (
              SELECT doc_id, {digest} AS digest,
                     count(*) OVER (PARTITION BY {digest}) AS group_count,
                     min(doc_id) OVER (PARTITION BY {digest}) AS cluster_id
              FROM documents
            )
            SELECT doc_id, digest, group_count, cluster_id FROM d
            WHERE group_count > 1
        """,
        "keeper_selection": f"""
            WITH d AS (
              SELECT doc_id, n_chars, {digest} AS digest,
                     count(*) OVER (PARTITION BY {digest}) AS group_count,
                     min(doc_id) OVER (PARTITION BY {digest}) AS cluster_id
              FROM documents
            ), r AS (
              SELECT doc_id, cluster_id,
                     row_number() OVER (PARTITION BY cluster_id
                                        ORDER BY n_chars DESC, doc_id ASC) AS rn
              FROM d WHERE group_count > 1
            )
            SELECT doc_id, cluster_id, CAST(rn AS INT) AS rn,
                   CASE WHEN rn = 1 THEN 'KEEP' ELSE 'DELETE' END AS action
            FROM r
        """,
        "dedup_report": f"""
            WITH d AS (
              SELECT doc_id, n_chars, {digest} AS digest,
                     count(*) OVER (PARTITION BY {digest}) AS group_count,
                     min(doc_id) OVER (PARTITION BY {digest}) AS cluster_id
              FROM documents
            ), r AS (
              SELECT cluster_id, n_chars,
                     row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id ASC) AS rn
              FROM d WHERE group_count > 1
            ), per AS (
              SELECT cluster_id,
                     count(*) - 1 AS duplicates,
                     sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS reclaim
              FROM r GROUP BY cluster_id
            )
            SELECT count(*) AS duplicate_groups,
                   CAST(sum(duplicates) AS BIGINT) AS duplicate_rows,
                   CAST(sum(reclaim) AS BIGINT) AS reclaimable_bytes
            FROM per
        """,
        "stats_by_source": """
            SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS bytes
            FROM documents
            GROUP BY source
            ORDER BY n DESC, source ASC
            LIMIT 10
        """,
        "size_filter": """
            SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_size
            FROM documents
            WHERE n_chars >= 100 AND n_chars <= 400
            GROUP BY lang
        """,
        "token_count": r"""
            WITH t AS (
              SELECT lang,
                     length(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS tc
              FROM documents
            )
            SELECT lang, CAST(sum(tc) AS BIGINT) AS total_tokens,
                   CAST(round(avg(tc), 6) AS DOUBLE) AS avg_tokens
            FROM t GROUP BY lang
        """,
        "doc_quality": r"""
            WITH q AS (
              SELECT doc_id,
                     length(text) AS n,
                     length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS n_alpha,
                     length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
                     length(text) - length(regexp_replace(text, '\s', '', 'g')) AS n_space,
                     length(list_filter(string_split_regex(text, '\s+'), w -> w != '')) AS n_words
              FROM documents
            )
            SELECT doc_id,
                   n AS n_chars_m,
                   n_words,
                   round(n_alpha / greatest(n, 1), 6) AS alpha_ratio,
                   round(n_digit / greatest(n, 1), 6) AS digit_ratio,
                   round((n - n_alpha - n_digit - n_space) / greatest(n, 1), 6) AS punct_ratio,
                   round((n - n_space) / greatest(n_words, 1), 6) AS avg_word_len
            FROM q
        """,
        "ngram_jaccard": r"""
            WITH words AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'), w -> w != '') AS ws
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(ws) = 0 THEN []
                            WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                            ELSE list_transform(generate_series(1, len(ws) - 2),
                                                i -> array_to_string(ws[i:i+2], ' '))
                       END) AS gs
              FROM words
            ), ex AS (
              SELECT doc_id, unnest(gs) AS g FROM sh
            ), sizes AS (
              SELECT doc_id, len(gs) AS n_sh FROM sh
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.35
        """,
        "embedding_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding, (SELECT qv FROM q)), 6) AS cosine
            FROM embeddings
            WHERE vec_id != 0
            ORDER BY list_cosine_similarity(embedding, (SELECT qv FROM q)) DESC,
                     vec_id ASC
            LIMIT 10
        """,
        "undo_last10": """
            SELECT event_id, event_type, user_id
            FROM events
            ORDER BY ts DESC, event_id DESC
            LIMIT 10
        """,
        "containment_docs": """
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM documents a
            JOIN documents b
              ON a.doc_id != b.doc_id
             AND length(a.text) < length(b.text)
             AND position(a.text IN b.text) > 0
             AND length(list_filter(string_split_regex(a.text, '\\s+'), w -> w != '')) >= 8
        """,
        "pattern_filter": """
            SELECT source, count(*) AS n
            FROM documents
            WHERE source LIKE 'src1%'
            GROUP BY source
        """,
        "cluster_stats": f"""
            WITH d AS (
              SELECT doc_id, n_chars, {digest} AS digest,
                     count(*) OVER (PARTITION BY {digest}) AS group_count,
                     min(doc_id) OVER (PARTITION BY {digest}) AS cluster_id
              FROM documents
            ), r AS (
              SELECT doc_id, cluster_id, n_chars, digest,
                     row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id ASC) AS rn
              FROM d WHERE group_count > 1
            )
            SELECT cluster_id,
                   count(*) AS group_count,
                   count(*) - 1 AS duplicates,
                   CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
                     AS reclaimable_bytes,
                   CAST(CASE WHEN count(DISTINCT digest) = 1 THEN 100.0
                        ELSE round((1.0 - 10/64.0) * 100.0, 6) END AS DOUBLE)
                     AS similarity
            FROM r GROUP BY cluster_id
        """,
        "doc_fingerprint": f"""
            WITH words AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'), w -> w != '') AS ws
              FROM documents WHERE length(trim(text)) > 0
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
                          WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                          ELSE list_transform(generate_series(1, len(ws) - 2),
                                              i -> array_to_string(ws[i:i+2], ' '))
                     END AS gs
              FROM words
            ), hv AS (
              SELECT doc_id,
                     list_transform(gs, s -> {_SQL_H31}) AS hs
              FROM sh
            ), fp AS (
              SELECT doc_id,
                     CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                          ELSE list_distinct(list_transform(
                                 generate_series(1, greatest(len(hs) - 6 + 1, 1)),
                                 i -> list_min(hs[i:i+5])))
                     END AS fps
              FROM hv
            )
            SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
                   list_min(fps) AS min_fp, list_max(fps) AS max_fp
            FROM fp
        """,
        "digest_algos": """
            SELECT doc_id,
                   md5(text) AS digest_md5,
                   sha256(text) AS digest_sha256,
                   sha256(text) AS digest_fallback
            FROM documents
        """,
        "keeper_newest": """
            WITH r AS (
              SELECT concat(user_id, '|', event_type) AS cluster_id, event_id,
                     row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id ASC) AS rn
              FROM events
            )
            SELECT cluster_id, event_id FROM r WHERE rn = 1
        """,
        "stats_cube": """
            SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents
            GROUP BY CUBE (lang, source)
        """,
        "langid": r"""
            WITH w AS (
              SELECT doc_id, lower(text) AS t,
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS ws
              FROM documents
            ), v AS (
              SELECT doc_id, t,
                     list_contains(ws,'the')::INT + list_contains(ws,'and')::INT
                     + list_contains(ws,'of')::INT + list_contains(ws,'to')::INT
                     + list_contains(ws,'is')::INT AS v_en,
                     list_contains(ws,'der')::INT + list_contains(ws,'die')::INT
                     + list_contains(ws,'und')::INT + list_contains(ws,'ist')::INT
                     + list_contains(ws,'nicht')::INT AS v_de,
                     list_contains(ws,'le')::INT + list_contains(ws,'la')::INT
                     + list_contains(ws,'et')::INT + list_contains(ws,'est')::INT
                     + list_contains(ws,'les')::INT AS v_fr,
                     list_contains(ws,'el')::INT + list_contains(ws,'la')::INT
                     + list_contains(ws,'los')::INT + list_contains(ws,'es')::INT
                     + list_contains(ws,'de')::INT AS v_es
              FROM w
            ), p AS (
              SELECT doc_id,
                     CASE
                       WHEN regexp_matches(t, '[一-鿿]') THEN 'zh'
                       WHEN regexp_matches(t, '[Ѐ-ӿ]') THEN 'ru'
                       WHEN regexp_matches(t, '[؀-ۿ]') THEN 'ar'
                       WHEN regexp_matches(t, '[぀-ヿ]') THEN 'ja'
                       WHEN greatest(v_en, v_de, v_es, v_fr) = 0 THEN 'unknown'
                       WHEN v_en = greatest(v_en, v_de, v_es, v_fr) THEN 'en'
                       WHEN v_de = greatest(v_en, v_de, v_es, v_fr) THEN 'de'
                       WHEN v_es = greatest(v_en, v_de, v_es, v_fr) THEN 'es'
                       ELSE 'fr'
                     END AS pred
              FROM v
            )
            SELECT pred, count(*) AS n FROM p GROUP BY pred
        """,
        "embedding_neardup": """
            -- embedding is FLOAT[]; DuckDB's list_cosine_similarity returns
            -- FLOAT for FLOAT[] inputs, so round(x, 6) emits float32 noise
            -- while Spark computes in double. Cast both sides to DOUBLE[] so
            -- both engines round the same double value (r02 verdict fix).
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.40
        """,
        # exact all-pairs oracle for the BUCKETED operator: green means the
        # LSH path (bands → capped/salted buckets → verify) missed no pair
        "knn_self_join": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.40
        """,
        "minhash_lsh_docs": _minhash_oracle(),
        "simhash_docs": _simhash_oracle(),
        "events_debounce": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            ), b AS (
              SELECT user_id, event_id,
                     sum(CASE WHEN gap IS NULL OR gap > 300000000
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS batch_seq
              FROM g
            )
            SELECT user_id, CAST(batch_seq AS BIGINT) AS batch_seq,
                   count(*) AS n_events,
                   min(event_id) AS first_event,
                   max(event_id) AS last_event
            FROM b GROUP BY user_id, batch_seq
        """,
        # oracle reads the ORIGINAL parquet: a hash match means the Iceberg
        # v2 write -> manifest-chain read roundtrip was byte-faithful
        "iceberg_roundtrip": f"""
            WITH h AS (
              SELECT lang, n_chars, md5(text) AS h FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(sum({sql_hex_int("h", 1, 12)}) AS BIGINT) AS text_checksum
            FROM h GROUP BY lang
        """,
        "watch_arrivals": _watch_oracle(),
    }
