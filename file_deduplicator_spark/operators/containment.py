"""Contained-transcript detection: winnowed-fingerprint candidates +
suffix-array verification (north_star requirement; no reference analog —
the reference only matches whole-content digests and whole-image hashes).

Why not MinHash: containment of a short transcript A inside a long B has
Jaccard |A|/|B| → 0, so symmetric MinHash misses it by design.

Candidate generation (winnowing — Schleimer et al., MOSS 2003): over the
k-word shingle hash sequence, select the minimum hash of every ``window``
consecutive shingles. GUARANTEE: any shared contiguous run of
≥ window + k - 1 words shares at least one selected fingerprint, so recall
for ≥ CONTAINMENT_MIN_WORDS overlaps is 1.0 at WINNOW_WINDOW =
CONTAINMENT_MIN_WORDS - SHINGLE_K + 1. The fingerprints come from one
``mapInArrow`` pass (``fingerprint_rows``) running the Python text kernel
``text.winnowed_fingerprints_batch``: the tokenizer and shingle hash of the
MinHash stage, and the verify's own ``lower().split()`` words. The capped
per-fingerprint grouping and the pair expansion are Column expressions.

Verification (Python, per container): build the suffix array of the
container transcript ONCE, binary-search each candidate needle
(functions/suffix.py). Rows are shuffled by container id and sorted, so
each container and all its candidate needles arrive together;
skew-bounded by the per-fingerprint bucket cap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.functions.text import SHINGLE_K
from file_deduplicator_spark.operators.lsh import member_pairs

CONTAINMENT_MIN_WORDS = 8  # min overlap (words) to emit a containment edge
WINNOW_WINDOW = max(2, CONTAINMENT_MIN_WORDS - SHINGLE_K + 1)


def winnowed_fingerprints_col(hashes: Column, window: int) -> Column:
    """array<long> of winnowed fingerprints (distinct window-min values) over
    a PRE-MATERIALIZED shingle-hash array column.

    ``hashes`` MUST be a plain column reference (use ``withColumn`` first),
    not an inline expression: HOF lambdas re-evaluate embedded subexpressions
    per element, so an inline shingle pipeline here would rebuild the whole
    hash array once per window position — quadratic per row."""
    n = F.size(hashes)
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(n - F.lit(window), F.lit(0))),
        lambda i: F.array_min(F.slice(hashes, i + F.lit(1), F.lit(window))),
    )
    return F.when(n <= 0, F.array().cast("array<long>")).otherwise(F.array_distinct(wins))


def fingerprint_rows(
    df: DataFrame, id_col: str = "clip_id", text_col: str = "transcript"
) -> DataFrame:
    """(id, n_words, fp): one row per distinct winnowed fingerprint of each
    transcript, from one ``mapInArrow`` pass over (id, transcript). Rows
    with no words (null or blank text) emit nothing."""
    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]

    def run(batches):
        from file_deduplicator_spark.functions.text import winnowed_fingerprints_batch

        for rb in batches:
            n_words, row, fp = winnowed_fingerprints_batch(
                rb.column(1).to_pylist(), SHINGLE_K, WINNOW_WINDOW)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).take(pa.array(row, type=pa.int64())),
                 pa.array(n_words[row], type=pa.int32()),
                 pa.array(fp, type=pa.int64())],
                names=["id", "n_words", "fp"],
            )

    return df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")).mapInArrow(
        run, schema=f"id {id_type}, n_words int, fp long")


def containment_candidates(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "clip_id",
    text_col: str = "transcript",
) -> DataFrame:
    """(id_a=needle, id_b=container) candidate pairs: share a winnowed
    fingerprint AND needle is strictly shorter (in words); needle must have
    ≥ CONTAINMENT_MIN_WORDS words. Per-fingerprint buckets capped."""
    base = fingerprint_rows(df, id_col, text_col)
    # r06 rework (guide §2.4 — remove shuffles outright): ONE capped
    # groupBy(fp) + in-array pair expansion replaces the old topology of
    # TWO sort+window cap passes (the winnowing subtree was evaluated once
    # per join side — no exchange reuse across the broadcast wrapper) + a
    # fingerprint equi-join + a distinct. Identical candidate set:
    # * the capped membership is the cap LOWEST ids per fp — array_sort of
    #   struct(id, n_words) orders by the unique id, exactly like the old
    #   row_number() over (partition by fp order by id) <= cap;
    # * pair orientation: needle = strictly fewer words, so for members
    #   x, y emit (x→y) iff wx < wy (equal word counts never pair), and
    #   the needle must carry >= CONTAINMENT_MIN_WORDS words;
    # * the trailing distinct dedups across shared fingerprints as before.
    # The expansion is lsh.member_pairs, the one bucket_pairs uses, with
    # this orientation as ``emit`` and the word-count rule as ``keep`` — the
    # 100 TB story (capped buckets, quadratic work bounded per bucket) is
    # unchanged.
    member = F.struct("id", "n_words")
    grouped = base.groupBy("fp").agg(
        F.slice(F.array_sort(F.collect_list(member)), 1, cfg.bucket_cap).alias("ms")
    )
    min_w = F.lit(CONTAINMENT_MIN_WORDS)

    def emit(x, y):
        x_needle = x["n_words"] < y["n_words"]
        return F.struct(F.when(x_needle, x["id"]).otherwise(y["id"]).alias("id_a"),
                        F.when(x_needle, y["id"]).otherwise(x["id"]).alias("id_b"))

    def keep(x, y):
        return ((x["n_words"] != y["n_words"])
                & (F.least(x["n_words"], y["n_words"]) >= min_w))

    return (
        grouped.filter(F.size("ms") > 1)
        .select(F.explode(member_pairs(F.col("ms"), emit, keep)).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def verify_containment(
    candidates: DataFrame,
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "clip_id",
    text_col: str = "transcript",
) -> DataFrame:
    """Suffix-array verify: keep (id_a, id_b) where transcript_a occurs
    word-aligned inside transcript_b. One SA build per container.

    r06 shape (guide §4.1): ``repartition(id_b) + sortWithinPartitions``
    + ``mapInArrow`` replaces the old ``groupBy(id_b).applyInPandas`` —
    same shuffle, but one Arrow batch per ~1024 rows instead of one pandas
    DataFrame per container group (~44 rows each at sf0.1): the per-group
    Arrow/pandas conversion overhead dominated the stage. Rows arrive
    sorted by id_b, so each container's SA is built exactly once, on group
    change (the same one-SA-per-container contract as before)."""
    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]
    texts_a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"))
    texts_b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"))
    joined = candidates.join(texts_a, "id_a").join(texts_b, "id_b")

    def verify_batches(batches):
        from file_deduplicator_spark.functions.suffix import suffix_array, word_contains

        cur_b = None
        cur_container = None
        cur_sa = None
        for rb in batches:
            ia = rb.column(rb.schema.get_field_index("id_a"))
            ids_a = ia.to_pylist()
            ids_b = rb.column(rb.schema.get_field_index("id_b")).to_pylist()
            id_pa_type = ia.type  # explicit: empty output batches must keep it
            texts = rb.column(rb.schema.get_field_index("text_a")).to_pylist()
            conts = rb.column(rb.schema.get_field_index("text_b")).to_pylist()
            out_a, out_b = [], []
            for id_a, id_b, text_a, container in zip(ids_a, ids_b, texts, conts):
                if id_b != cur_b:
                    cur_b = id_b
                    cur_container = container
                    c = (" " + " ".join(container.lower().split()) + " ").encode("utf-8")
                    cur_sa = suffix_array(c)
                if word_contains(cur_container, text_a, sa=cur_sa):
                    out_a.append(id_a)
                    out_b.append(id_b)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_a, type=id_pa_type), pa.array(out_b, type=id_pa_type)],
                names=["id_a", "id_b"],
            )

    return (
        joined.repartition(F.col("id_b"))
        .sortWithinPartitions("id_b")
        .mapInArrow(verify_batches, schema=f"id_a {id_type}, id_b {id_type}")
    )


def containment_edges(df: DataFrame, cfg: DedupConfig, id_col: str = "clip_id",
                      text_col: str = "transcript") -> DataFrame:
    cands = containment_candidates(df, cfg, id_col, text_col)
    return verify_containment(cands, df, cfg, id_col, text_col)
