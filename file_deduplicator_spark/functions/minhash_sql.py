"""LSH banding, fold pre-filter and verify helpers as Column expressions —
the JVM-side steps between the Arrow signature stage and the pair list.

The signatures themselves come from ``udfs.signatures_map_in_arrow``
(numpy kernels in ``functions/text.py``); everything here reads the
resulting ``minhash_sig`` / ``sim_sig`` columns: MinHash band keys, the
in-bucket nibble fold and its mismatch count, slot agreement, SimHash
block-subset band keys and Hamming distance. The word/shingle builders
(``words_col``, ``shingles_from_words``) serve the text operators
(``operators/textops.py``, ``operators/containment.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from file_deduplicator_spark.functions.text import MERSENNE_61

EMPTY_SLOT = MERSENNE_61 - 1  # signature slot value for "no shingles"


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


def minhash_bands_col(sig: Column, bands: int, rows: int) -> Column:
    """array<struct<band:int, bh:long>> — xxhash64 of each r-slot slice.

    LSH OR-amplification: two docs are candidates iff some band agrees on all
    ``rows`` slots. Collision prob for Jaccard s: 1 - (1 - s^r)^b.
    """
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(F.slice(sig, i * rows + 1, rows)).alias("bh"),
            )
            for i in range(bands)
        ]
    )


FOLD_SLOTS_PER_LONG = 16  # 4 bits per slot


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


def simhash_table_combos(n_blocks: int, key_blocks: int, design: str) -> list[tuple[int, ...]]:
    """The block-index tuples keyed per table.

    design='combinations': all C(n_blocks, key_blocks) tuples (Manku WWW'07)
      — guarantee d ≤ n_blocks − key_blocks, table count C(8,3) = 56.
    design='partition': split the blocks into two halves and key all
      key_blocks-subsets WITHIN each half — 2·C(4,3) = 8 tables for the
      default shape. Pigeonhole: d ≤ n_blocks/2 − key_blocks + ... precisely,
      d errors leave n_blocks − d clean blocks; the clean blocks split
      (a, b) across the halves with a + b = n_blocks − d, so max(a, b) ≥
      ⌈(n_blocks−d)/2⌉ ≥ key_blocks whenever d ≤ n_blocks − 2·key_blocks + 1
      — for (8, 3): guaranteed candidates at Hamming ≤ 3 from 7× fewer
      tables than 'combinations' (which guarantees ≤ 5). Planted near-dups
      measure d ≤ 3; pairs above the guarantee are caught probabilistically
      (rotations) and by the fused text-MinHash path.
    """
    import itertools as _it

    if design == "partition":
        half = n_blocks // 2
        g1 = range(half)
        g2 = range(half, n_blocks)
        return list(_it.combinations(g1, key_blocks)) + list(_it.combinations(g2, key_blocks))
    return list(_it.combinations(range(n_blocks), key_blocks))


def simhash_bands_col(
    sig: Column,
    n_blocks: int,
    rotations: tuple[int, ...],
    key_blocks: int = 3,
    design: str = "combinations",
) -> Column:
    """array<struct<band:int, bh:long>> — SimHash LSH tables keyed on
    block subsets (Manku et al., WWW'07 block-permutation design; see
    simhash_table_combos for the table-family options).

    Pigeonhole GUARANTEE: d bit errors hit ≤ d of the n_blocks blocks, so
    every pair at Hamming d within the family's bound shares at least one
    table whose key_blocks blocks are all clean. Key-width tradeoff,
    measured on 200k synthetic clips (real audio envelope bits are heavily
    correlated, so narrow keys collide far above the uniform estimate):

      key_blocks=1:  8-bit keys  → n/256 per bucket → quadratic blow-up
      key_blocks=2: 16-bit keys, C(8,2)=28 tables, d ≤ 6 guaranteed —
                    still 65M candidate pairs at 154k distinct sigs
      key_blocks=3: 24-bit keys — buckets O(1); 'combinations' = 56 tables
                    (d ≤ 5), 'partition' = 8 tables (d ≤ 3, 7× fewer band
                    rows — the candidate stage cost driver at scale)

    Extra rotations re-slice the bits for probabilistic recall above the
    guarantee; band ids are offset per rotation so buckets never mix.
    """
    width = 64 // n_blocks
    mask = (1 << width) - 1
    combos = simhash_table_combos(n_blocks, key_blocks, design)
    out = []
    table = 0
    for rot in rotations:
        rsig = rotate64_col(sig, rot)
        blocks = [
            F.shiftrightunsigned(rsig, i * width).bitwiseAND(F.lit(mask))
            for i in range(n_blocks)
        ]
        for combo in combos:
            key = blocks[combo[0]]
            for j in combo[1:]:
                key = F.shiftleft(key, width).bitwiseOR(blocks[j])
            out.append(F.struct(F.lit(table).alias("band"), key.alias("bh")))
            table += 1
    return F.array(*out)
