"""MinHash: the batched numpy kernel the signature stage runs must equal
the per-row reference, and slot agreement must behave like a Jaccard
estimator."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from file_deduplicator_spark.functions.minhash_sql import (
    shingles_from_words,
    sig_agreement_col,
    words_col,
)
from file_deduplicator_spark.functions.text import (
    jaccard,
    minhash_params,
    minhash_signature_py,
    minhash_signatures_batch,
    shingles,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "completely different words appear in this sentence here",
    "",
    "one",
    "重复 数据 删除 引擎 测试 样本 句子",
    "  multiple   spaces\tand\ttabs  here ",
]


def test_shingles_parity(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "i int, t string")
    got = {
        r.i: r.s
        for r in df.select(
            "i", shingles_from_words(words_col(F.col("t")), 3).alias("s")
        ).collect()
    }
    for i, t in enumerate(TEXTS):
        assert got[i] == shingles(t, 3), f"text {i!r}"


BATCH_TEXTS = TEXTS + [
    None,
    "   \t \n  ",
    "two words",
    "line one\nline two\tand a tab",
    "Café naïve ÜBER straße café",
    " ".join(f"w{i % 13}" for i in range(200)),
]


@pytest.mark.parametrize("num_perm,k,seed", [(64, 3, 42), (16, 1, 7), (128, 5, 1234), (5, 2, 0)])
def test_batch_kernel_matches_per_row_reference(num_perm, k, seed):
    """minhash_signatures_batch (the signature stage's kernel) equals
    minhash_signature_py stacked row for row; None hashes as empty text."""
    a, b = minhash_params(num_perm, seed)
    got = minhash_signatures_batch(BATCH_TEXTS, a, b, k)
    want = np.stack([minhash_signature_py(t or "", a, b, k) for t in BATCH_TEXTS])
    assert got.shape == (len(BATCH_TEXTS), num_perm)
    assert np.array_equal(got, want)
    # a batch of only empty rows takes the early-return branch
    empties = minhash_signatures_batch([None, "", " "], a, b, k)
    assert np.array_equal(empties, np.stack([minhash_signature_py("", a, b, k)] * 3))


def test_agreement_estimates_jaccard(spark):
    a, b = minhash_params(64, 42)
    sa, sb = (minhash_signature_py(t, a, b, 3).tolist() for t in TEXTS[:2])
    df = spark.createDataFrame([(sa, sb, sa)], "sa array<long>, sb array<long>, sc array<long>")
    est, est_same = df.select(
        sig_agreement_col(F.col("sa"), F.col("sb")),
        sig_agreement_col(F.col("sa"), F.col("sc")),
    ).first()
    true_j = jaccard(TEXTS[0], TEXTS[1], 3)
    assert abs(est - true_j) < 0.25  # 64 perms → se ≈ 0.06; generous bound
    assert est_same == 1.0  # identical texts → agreement 1.0


# ---------------------------------------------------------------------------
# round-4: in-bucket fold pre-filter (minhash_fold_col / fold_mismatch_col)
# ---------------------------------------------------------------------------


def _fold_py(sig, slots_per_long=16):
    out = []
    for j in range(len(sig) // slots_per_long):
        acc = 0
        for s in sig[j * slots_per_long:(j + 1) * slots_per_long]:
            acc = ((acc << 4) | (s & 15)) & 0xFFFFFFFFFFFFFFFF
        out.append(acc - (1 << 64) if acc >= (1 << 63) else acc)
    return out


def test_fold_matches_python_and_is_conservative(spark):
    """fold_mismatch is a LOWER bound on the true slot-mismatch count
    (soundness of the exactly-conservative pre-filter), and the JVM fold
    equals the Python recomputation."""
    from file_deduplicator_spark.functions.minhash_sql import (
        fold_mismatch_col,
        minhash_fold_col,
    )

    rng = np.random.RandomState(99)
    num_perm = 64
    pairs = []
    for i in range(40):
        a = rng.randint(0, 1 << 61, size=num_perm).astype("int64")
        b = a.copy()
        flip = rng.rand(num_perm) < rng.choice([0.05, 0.3, 0.7, 1.0])
        b[flip] = rng.randint(0, 1 << 61, size=int(flip.sum()))
        pairs.append((i, a.tolist(), b.tolist()))
    df = spark.createDataFrame(
        pairs, "i int, sa array<long>, sb array<long>"
    ).select(
        "i", "sa", "sb",
        minhash_fold_col(F.col("sa"), num_perm).alias("fa"),
        minhash_fold_col(F.col("sb"), num_perm).alias("fb"),
    )
    rows = df.select(
        "i", "sa", "sb", "fa",
        fold_mismatch_col(F.col("fa"), F.col("fb")).alias("provable"),
    ).collect()
    assert len(rows) == 40
    for r in rows:
        true_mm = sum(1 for x, y in zip(pairs[r.i][1], pairs[r.i][2]) if x != y)
        assert r.fa == _fold_py(pairs[r.i][1]), "JVM fold != python fold"
        assert 0 <= r.provable <= true_mm, (
            f"pre-filter not conservative: provable {r.provable} > true {true_mm}"
        )
        # power check: with 4 bits/slot ~15/16 of mismatches are provable;
        # allow generous slack but catch a broken (always-0) fold
        if true_mm >= 16:
            assert r.provable >= true_mm // 4


def test_prefilter_preserves_verified_pair_set(spark, clips_df):
    """Operator-level: text candidates with the in-bucket fold pre-filter,
    verified, equal the verified candidates without it, row for row (the
    round-4 'same verified pair set' gate: the fold is exactly
    conservative)."""
    from file_deduplicator_spark.config import DedupConfig
    from file_deduplicator_spark.functions.minhash_sql import (
        has_text_col,
        minhash_bands_col,
        minhash_fold_col,
    )
    from file_deduplicator_spark.operators.lsh import (
        band_table,
        bucket_pairs,
        fold_within,
        verify_pairs_minhash,
    )
    from file_deduplicator_spark.functions.text import NUM_PERM
    from file_deduplicator_spark.plans.pipeline import with_signatures

    cfg = DedupConfig()
    sigs = (with_signatures(clips_df, cfg).drop("bytes")
            .filter(has_text_col(F.col("minhash_sig")))
            .withColumn("_mh_fold", minhash_fold_col(F.col("minhash_sig"), NUM_PERM))
            .persist())
    try:
        bands = band_table(
            sigs, minhash_bands_col(F.col("minhash_sig")), payload={"fold": "_mh_fold"},
        )

        def verified(pairs):
            return verify_pairs_minhash(pairs, sigs, cfg.jaccard_threshold)

        on = verified(bucket_pairs(bands, cfg,
                                   fold_within(NUM_PERM, cfg.jaccard_threshold)))
        off = verified(bucket_pairs(bands, cfg))
        assert on.exceptAll(off).count() == 0
        assert off.exceptAll(on).count() == 0
        assert on.count() > 0
    finally:
        sigs.unpersist()


def test_simhash_bands_share_a_table_up_to_hamming_3(spark):
    """The SimHash table family's pigeonhole guarantee (minhash_sql
    .simhash_table_combos): two signatures at Hamming distance d <= 3 share
    at least one (band, bh) key, so the pair always becomes a candidate.
    Unrelated signatures must almost never share one (a degenerate layout,
    e.g. constant keys, would pass the first check alone)."""
    from file_deduplicator_spark.functions.minhash_sql import simhash_bands_col

    rng = np.random.RandomState(2024)
    n = 2000

    def signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    def draw():
        return int(rng.randint(0, 1 << 64, dtype=np.uint64))

    rows = []
    for d in range(4):
        for _ in range(n):
            a = draw()
            mask = sum(1 << int(bit) for bit in rng.choice(64, size=d, replace=False))
            rows.append((d, signed(a), signed(a ^ mask)))
    rows += [(-1, signed(draw()), signed(draw())) for _ in range(n)]
    df = spark.createDataFrame(rows, "d int, a long, b long")
    shared = F.size(F.array_intersect(simhash_bands_col(F.col("a")),
                                      simhash_bands_col(F.col("b")))) > 0
    got = {r.d: (r.rows, r.hits) for r in df.groupBy("d").agg(
        F.count(F.lit(1)).alias("rows"), F.sum(shared.cast("int")).alias("hits")).collect()}
    for d in range(4):
        assert got[d] == (n, n), f"Hamming {d}: {n - got[d][1]} of {n} pairs share no table"
    assert got[-1][1] <= n // 100, f"unrelated pairs share a table: {got[-1][1]} of {n}"
