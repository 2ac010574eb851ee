"""Contained-transcript detection: winnowed-fingerprint candidates +
suffix-array verification (north_star requirement; no reference analog —
the reference only matches whole-content digests and whole-image hashes).

Why not MinHash: containment of a short transcript A inside a long B has
Jaccard |A|/|B| → 0, so symmetric MinHash misses it by design.

Candidate generation (JVM-side, winnowing — Schleimer et al., MOSS 2003):
over the k-word shingle hash sequence, select the minimum hash of every
``window`` consecutive shingles. GUARANTEE: any shared contiguous run of
≥ window + k - 1 words shares at least one selected fingerprint, so recall
for ≥ CONTAINMENT_MIN_WORDS overlaps is 1.0 at WINNOW_WINDOW =
CONTAINMENT_MIN_WORDS - SHINGLE_K + 1.

Verification (Python, per container): build the suffix array of the
container transcript ONCE, binary-search each candidate needle
(functions/suffix.py). Grouped by container id via applyInPandas — each
group is one container + all its candidate needles; skew-bounded by the
per-fingerprint bucket cap.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from file_deduplicator_spark.config import DedupConfig
from file_deduplicator_spark.functions.minhash_sql import shingles_from_words, words_col
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


def containment_candidates(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "clip_id",
    text_col: str = "transcript",
) -> DataFrame:
    """(id_a=needle, id_b=container) candidate pairs: share a winnowed
    fingerprint AND needle is strictly shorter (in words); needle must have
    ≥ CONTAINMENT_MIN_WORDS words. Per-fingerprint buckets capped."""
    # words → shingles → hashes materialized stage-by-stage: each HOF input
    # is a plain column reference, never an inline pipeline (HOF lambdas
    # re-evaluate embedded subexpressions per element — an inline
    # split-then-shingle pipeline re-splits the text once per shingle; warm
    # containment_docs at sf0.1 measured 6.1s → 2.4s with this change)
    base = (
        df.select(F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("_ws"))
        .select(
            "id",
            F.size(F.col("_ws")).alias("n_words"),
            shingles_from_words(F.col("_ws"), SHINGLE_K).alias("_sh"),
        )
        .select(
            "id",
            "n_words",
            F.transform(
                F.col("_sh"),
                lambda s: F.xxhash64(s).bitwiseAND(F.lit(0x7FFFFFFF)),
            ).alias("_h"),
        )
        .select(
            "id",
            "n_words",
            F.explode(winnowed_fingerprints_col(F.col("_h"), WINNOW_WINDOW)).alias("fp"),
        )
    )
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
