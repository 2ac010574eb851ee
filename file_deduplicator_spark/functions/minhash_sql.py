"""LSH banding, fold pre-filter and verify helpers as Column expressions —
the JVM-side steps between the Arrow signature stage and the pair list.

The signatures themselves come from ``udfs.signatures_map_in_arrow``
(numpy kernels in ``functions/text.py``); everything here reads the
resulting ``minhash_sig`` / ``sim_sig`` columns: MinHash band keys, the
in-bucket nibble fold and its mismatch count, slot agreement and SimHash
block-subset band keys. The word/shingle helpers (``words_col``,
``shingles_from_words``) serve the text operators in
``operators/textops.py``.

The band layout is the constants below, not a setting: batch, watch and
image matching all band with them, so stored signatures stay comparable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from file_deduplicator_spark.functions.text import MERSENNE_61, NUM_PERM

EMPTY_SLOT = MERSENNE_61 - 1  # signature slot value for "no shingles"


def has_text_col(sig: Column) -> Column:
    """The one "this row has text" rule of batch and watch matching: the
    MinHash signature's first slot is not ``EMPTY_SLOT``. It is the kernel's
    own decision: ``text.tokenize`` (``str.split()``) finds no word in tabs,
    newlines, CR or NBSP, so such a transcript gets the all-``EMPTY_SLOT``
    signature, whose slot agreement with any other blank one is 1.0. A null
    signature fails the predicate. Bound: a row with text fails it only if
    its first slot's min over shingles is M61−1, which needs every shingle
    to hash to that one value."""
    return F.element_at(sig, 1) != F.lit(EMPTY_SLOT)


MINHASH_BANDS = 16  # b
MINHASH_ROWS = 4    # r
FOLD_SLOTS_PER_LONG = 16  # 4 bits per slot
assert MINHASH_BANDS * MINHASH_ROWS == NUM_PERM, "bands x rows must cover the signature"
assert NUM_PERM % FOLD_SLOTS_PER_LONG == 0, "the in-bucket fold needs NUM_PERM % 16 == 0"

# SimHash tables: 8 blocks of 8 bits, 24-bit keys of 3 blocks taken within
# each half (simhash_table_combos), at two rotations
SIMHASH_BLOCKS = 8
SIMHASH_KEY_BLOCKS = 3
SIMHASH_ROTATIONS = (0, 7)


def words_col(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed (matches text.tokenize)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")


def shingles_from_words(ws: Column, k: int) -> Column:
    """k-word shingles from a word-array column.

    PERF CONTRACT: ``ws`` should be a plain column reference (materialize via
    ``withColumn`` first) — it appears inside the transform lambda, and HOF
    lambdas re-evaluate embedded subexpressions per element. An inline
    split-pipeline here costs O(words^2) per row."""
    n = F.size(ws)
    return (
        F.when(n <= 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.array_join(ws, " ")))
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), n - F.lit(k)),
                lambda i: F.array_join(F.slice(ws, i + F.lit(1), F.lit(k)), " "),
            )
        )
    )


def minhash_bands_col(sig: Column) -> Column:
    """array<struct<band:int, bh:long>> — xxhash64 of each r-slot slice.

    LSH OR-amplification: two docs are candidates iff some band agrees on all
    r slots. Collision prob for Jaccard s: 1 - (1 - s^r)^b.
    """
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(F.slice(sig, i * MINHASH_ROWS + 1, MINHASH_ROWS)).alias("bh"),
            )
            for i in range(MINHASH_BANDS)
        ]
    )



def minhash_fold_col(sig: Column, num_perm: int) -> Column:
    """Compact in-bucket pre-filter payload: the LOW NIBBLE of every MinHash
    slot, 16 slots per long → ``num_perm/16`` longs (4 longs / 32 bytes for
    the default 64-slot signature, vs the 512-byte full signature that is
    too fat to carry into LSH buckets).

    Soundness (why carrying 4 bits per slot is enough to pre-filter
    EXACTLY): equal slots have equal nibbles, so a nibble mismatch PROVES a
    slot mismatch — the nibble-mismatch count is a lower bound on the true
    slot-mismatch count. ``fold_mismatch_col(a, b) > max_mismatch``
    therefore implies the full verify must fail; filtering on it inside the
    bucket expansion can never drop a pair the verify would keep — the
    verified pair set is unchanged by construction. Detection power: a
    mismatched slot's nibbles still collide with prob 1/16, so ~15/16 of
    true mismatches are provable in-bucket; at the default config
    (jaccard_threshold 0.5, 64 slots) everything except near-threshold
    pairs dies before the shuffle and the join-based verify stage shrinks
    to the survivors (round-3 verdict item 2).
    """
    n_longs = num_perm // FOLD_SLOTS_PER_LONG
    assert n_longs * FOLD_SLOTS_PER_LONG == num_perm, "num_perm must be /16"
    return F.array(
        *[
            F.aggregate(
                F.slice(sig, j * FOLD_SLOTS_PER_LONG + 1, FOLD_SLOTS_PER_LONG),
                F.lit(0).cast("long"),
                lambda acc, s: F.shiftleft(acc, 4).bitwiseOR(s.bitwiseAND(F.lit(15))),
            )
            for j in range(n_longs)
        ]
    )


# one bit per nibble position — the fold's mismatch-count mask
_NIBBLE_LSB_MASK = 0x1111111111111111


def fold_mismatch_col(fold_a: Column, fold_b: Column) -> Column:
    """Number of PROVABLY mismatched slots between two folded signatures
    (lower bound on the true slot-mismatch count — see minhash_fold_col).
    Per long: OR the xor's nibble bits down onto each nibble's LSB, mask,
    popcount — pure JVM integer ops inside the bucket expansion."""

    def per_long(x: Column, y: Column) -> Column:
        d = x.bitwiseXOR(y)
        folded = (
            d.bitwiseOR(F.shiftrightunsigned(d, 1))
            .bitwiseOR(F.shiftrightunsigned(d, 2))
            .bitwiseOR(F.shiftrightunsigned(d, 3))
        )
        return F.bit_count(folded.bitwiseAND(F.lit(_NIBBLE_LSB_MASK)))

    return F.aggregate(
        F.zip_with(fold_a, fold_b, per_long), F.lit(0), lambda acc, v: acc + v
    )


def sig_agreement_col(sig_a: Column, sig_b: Column) -> Column:
    """Fraction of agreeing MinHash slots — unbiased Jaccard estimate
    (verify stage; avoids re-shingling both texts in the join)."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size(sig_a)


# ---------------------------------------------------------------------------
# SimHash (64-bit LongType) band extraction
# ---------------------------------------------------------------------------


def rotate64_col(sig: Column, shift: int) -> Column:
    """Bitwise left-rotation of a 64-bit signature (Java semantics: << and
    >>> wrap at 64; OR of the two halves)."""
    if shift % 64 == 0:
        return sig
    s = shift % 64
    return F.shiftleft(sig, s).bitwiseOR(F.shiftrightunsigned(sig, 64 - s))


def simhash_table_combos(n_blocks: int, key_blocks: int) -> list[tuple[int, ...]]:
    """The block-index tuples keyed per table: split the blocks into two
    halves and key every key_blocks-subset WITHIN each half — 2·C(4,3) = 8
    tables for the (8, 3) shape.

    Pigeonhole: d bit errors leave n_blocks − d clean blocks; they split
    (a, b) across the halves with a + b = n_blocks − d, so max(a, b) ≥
    ⌈(n_blocks−d)/2⌉ ≥ key_blocks whenever d ≤ n_blocks − 2·key_blocks + 1
    — for (8, 3): guaranteed candidates at Hamming ≤ 3 (test_minhash pins
    it). All C(8,3) = 56 subsets (Manku et al., WWW'07) would guarantee
    d ≤ 5 at 7× the band rows; planted near-dups measure d ≤ 3, and pairs
    above the guarantee are caught probabilistically (rotations) and by the
    fused text-MinHash path.
    """
    import itertools as _it

    half = n_blocks // 2
    return (list(_it.combinations(range(half), key_blocks))
            + list(_it.combinations(range(half, n_blocks), key_blocks)))


def simhash_bands_col(sig: Column) -> Column:
    """array<struct<band:int, bh:long>> — SimHash LSH tables keyed on
    block subsets (simhash_table_combos), at every SIMHASH_ROTATIONS shift.

    Key-width tradeoff, measured on 200k synthetic clips (real audio
    envelope bits are heavily correlated, so narrow keys collide far above
    the uniform estimate):

      1 block:   8-bit keys  → n/256 per bucket → quadratic blow-up
      2 blocks: 16-bit keys, C(8,2)=28 tables, d ≤ 6 guaranteed —
                still 65M candidate pairs at 154k distinct sigs
      3 blocks: 24-bit keys — buckets O(1); 8 tables (d ≤ 3)

    Extra rotations re-slice the bits for probabilistic recall above the
    guarantee; band ids are offset per rotation so buckets never mix.
    """
    width = 64 // SIMHASH_BLOCKS
    mask = (1 << width) - 1
    combos = simhash_table_combos(SIMHASH_BLOCKS, SIMHASH_KEY_BLOCKS)
    out = []
    table = 0
    for rot in SIMHASH_ROTATIONS:
        rsig = rotate64_col(sig, rot)
        blocks = [
            F.shiftrightunsigned(rsig, i * width).bitwiseAND(F.lit(mask))
            for i in range(SIMHASH_BLOCKS)
        ]
        for combo in combos:
            key = blocks[combo[0]]
            for j in combo[1:]:
                key = F.shiftleft(key, width).bitwiseOR(blocks[j])
            out.append(F.struct(F.lit(table).alias("band"), key.alias("bh")))
            table += 1
    return F.array(*out)
