"""Portable (Spark ⟷ DuckDB) MinHash / SimHash — oracle-checkable variants.

The production pipeline's MinHash hashes shingles with blake2b inside the Arrow
signature stage (``udfs.signatures_map_in_arrow``), which no SQL oracle engine
reproduces. For the driver's correctness gate we provide a
second, mathematically identical construction whose base hash is **md5 hex
substrings converted to integers** — expressible as pure Column expressions in
Spark AND as pure SQL in DuckDB, so the LSH/verify operators get a real
value-level oracle instead of a rows-only check.

Construction (deterministic, seed-pinned):

    h60(s)       = int(md5(s)[:15], 16)                   (60-bit, fits BIGINT)
    h31(s)       = h60(s) % P,  P = 2^31 - 1
    minhash[i]   = min over shingles s of (a_i * h31(s) + b_i) % P
    band key j   = ','.join(str(sig[j*r + t]) for t in range(r))
    simhash      = per-bit majority of ±1 votes from token hashes, split into
                   two 32-bit halves (hi = md5 hex[0:8], lo = hex[8:16]) so
                   every intermediate fits signed 64-bit in both engines
                   (DuckDB sums would otherwise promote to HUGEINT).

All multiplications stay < 2^62: a_i, b_i, h31 < 2^31.

Reference semantics generalized: MinHash over transcript shingles is the
transcript analog of computePerceptualHash (perceptual.go:407-431); SimHash
per-bit majority mirrors pHash's coefficient-vs-mean bits
(perceptual.go:242-292).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = (1 << 31) - 1  # 2147483647, Mersenne prime
EMPTY_SLOT_P = P31   # slot value for "no shingles" (h % P31 < P31, never collides)

# portable-config defaults for the docs driver queries:
# 16 perms, 8 bands x 2 rows -> candidate threshold (1/8)^(1/2) ~= 0.35
NUM_PERM = 16
BANDS = 8
ROWS = 2


def portable_params(num_perm: int = NUM_PERM, seed: int = 42) -> tuple[list[int], list[int]]:
    """Affine permutation constants a_i (nonzero) and b_i, both < P31."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, P31, size=num_perm, dtype=np.int64).tolist()
    b = rng.randint(0, P31, size=num_perm, dtype=np.int64).tolist()
    return a, b


# ---------------------------------------------------------------------------
# Spark side (pure Column expressions — JVM only, no UDF)
# ---------------------------------------------------------------------------


def hex_int_col(hexstr: Column, start: int, length: int) -> Column:
    """Integer value of a hex substring [start, start+length), 1-based."""
    return F.conv(F.substring(hexstr, start, length), 16, 10).cast("long")


def h31_col(s: Column) -> Column:
    return hex_int_col(F.md5(s), 1, 15) % F.lit(P31)


def portable_words_col(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")


def portable_shingles(ws: Column, k: int) -> Column:
    """Same shingle semantics as minhash_sql.shingles_from_words.
    ``ws`` must be a materialized column reference (HOF re-eval rule)."""
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


def with_portable_minhash(df, text_col: str, out_col: str,
                          num_perm: int = NUM_PERM, k: int = 3, seed: int = 42):
    """df + out_col = array<long> portable MinHash signature (empty text →
    all-EMPTY_SLOT_P). Intermediate arrays are materialized columns so HOF
    lambdas stay linear per row."""
    a, b = portable_params(num_perm, seed)
    ws, sh, hv = f"_pw_{out_col}", f"_ps_{out_col}", f"_ph_{out_col}"
    out = (
        df.withColumn(ws, portable_words_col(F.col(text_col)))
        .withColumn(sh, portable_shingles(F.col(ws), k))
        .withColumn(hv, F.transform(F.col(sh), lambda s: h31_col(s)))
    )
    def perm_min(ai: int, bi: int) -> Column:
        return F.coalesce(
            F.array_min(
                F.transform(F.col(hv), lambda h: (F.lit(ai) * h + F.lit(bi)) % F.lit(P31))
            ),
            F.lit(EMPTY_SLOT_P),
        )

    sig = F.array(*[perm_min(a[i], b[i]) for i in range(num_perm)])
    return out.withColumn(out_col, sig).drop(ws, sh, hv)


def with_portable_minhash_arrow(df, text_col: str, out_col: str,
                                num_perm: int = NUM_PERM, k: int = 3,
                                seed: int = 42):
    """Arrow-stage twin of :func:`with_portable_minhash` — value-identical
    signatures (pytest-pinned), with the per-shingle md5 → h31 → affine-min
    math batched in numpy instead of ~num_perm interpreted HOF passes per
    row (guide §4.2).

    Math replicated exactly: h60 = int(md5_hex[:15], 16) is the big-endian
    value of digest bytes 0..7 shifted right 4 (15 hex chars = 60 bits);
    h31 = h60 % P31; slot_i = min over shingles of (a_i*h31 + b_i) % P31
    (all < 2^62, exact in int64); no shingles → every slot EMPTY_SLOT_P.
    Tokenization and NULL propagation stay JVM-side: the words array is
    computed by ``portable_words_col`` and crosses Arrow once; a NULL text
    yields the all-EMPTY_SLOT_P signature exactly like the expression form
    (whose coalesce() maps the null affine chain to EMPTY_SLOT_P)."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as ST

    a, b = portable_params(num_perm, seed)
    a_arr = np.asarray(a, dtype=np.int64)[:, None]
    b_arr = np.asarray(b, dtype=np.int64)[:, None]

    keep = list(df.schema.fields)
    out_schema = ST.StructType(
        keep + [ST.StructField(out_col, ST.ArrayType(ST.LongType()))]
    )
    keep_names = [f.name for f in keep]
    ws_col = f"_pam_{out_col}"

    def run(batches):
        import hashlib

        md5 = hashlib.md5
        for rb in batches:
            n = rb.num_rows
            ws = rb.column(rb.schema.get_field_index(ws_col)).to_pylist()
            counts = np.zeros(n, dtype=np.int64)
            digests = []
            for i, words in enumerate(ws):
                if not words:  # None or [] → all-EMPTY signature
                    continue
                if len(words) < k:
                    sh = [" ".join(words)]
                else:
                    sh = [" ".join(words[j:j + k])
                          for j in range(len(words) - k + 1)]
                counts[i] = len(sh)
                for s in sh:
                    digests.append(md5(s.encode("utf-8")).digest()[:8])
            sig = np.full((n, num_perm), EMPTY_SLOT_P, dtype=np.int64)
            if digests:
                # shift as uint64 FIRST (top bit may be set), then the
                # 60-bit value fits int64 exactly
                h60 = (np.frombuffer(b"".join(digests), dtype=">u8")
                       >> np.uint64(4)).astype(np.int64)
                h31 = h60 % P31
                prod = (a_arr * h31[None, :] + b_arr) % P31
                nz = counts > 0
                starts = np.zeros(int(nz.sum()), dtype=np.int64)
                np.cumsum(counts[nz][:-1], out=starts[1:])
                sig[nz] = np.minimum.reduceat(prod, starts, axis=1).T
            arr = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * num_perm,
                         type=pa.int32()),
                pa.array(sig.ravel(), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(rb.schema.get_field_index(c)) for c in keep_names]
                + [arr],
                names=keep_names + [out_col],
            )

    staged = df.withColumn(ws_col, portable_words_col(F.col(text_col)))
    return staged.mapInArrow(run, schema=out_schema).drop(ws_col)


def portable_minhash_bands_col(sig: Column, bands: int = BANDS, rows: int = ROWS) -> Column:
    """array<struct<band:int, bh:string>> — band key is the comma-joined
    r-slot slice (string equality ⇔ tuple equality; oracle-friendly)."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.array_join(
                    F.transform(F.slice(sig, j * rows + 1, rows), lambda x: x.cast("string")),
                    ",",
                ).alias("bh"),
            )
            for j in range(bands)
        ]
    )


def _vote_counts(hashes: Column) -> Column:
    """array<long>[32]: per-bit sum of ±1 votes over 32-bit token hashes."""
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(31)),
                lambda bb: F.getbit(h, bb) * F.lit(2) - F.lit(1),
            ),
            lambda c, v: c + v,
        ),
    )


def _pack_votes(counts: Column) -> Column:
    """Pack per-bit counts into a 32-bit value: bit b set ⇔ counts[b] > 0."""
    return F.aggregate(
        F.zip_with(
            counts,
            F.transform(F.sequence(F.lit(0), F.lit(31)),
                        lambda bb: F.pow(F.lit(2.0), bb).cast("long")),
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def with_portable_simhash(df, text_col: str, hi_col: str, lo_col: str):
    """df + (hi_col, lo_col): 64-bit portable SimHash as two 32-bit halves.

    bit b set ⇔ Σ_tokens (±1 by bit b of the token hash) > 0. Tokens keep
    multiplicity (term frequency weights the vote). Empty text → hi=lo=0
    only when all-zero votes lose every majority (counts all 0 → bits 0).
    """
    ws, mh, hhi, hlo = (f"_pw_{lo_col}", f"_pm_{lo_col}",
                        f"_phi_{lo_col}", f"_plo_{lo_col}")
    out = (
        df.withColumn(ws, portable_words_col(F.col(text_col)))
        # materialize the md5 array ONCE — the two 32-bit halves then slice
        # hex substrings of it (was: md5 evaluated twice per token, r02
        # bench regression item)
        .withColumn(mh, F.transform(F.col(ws), lambda t: F.md5(t)))
        .withColumn(hhi, F.transform(F.col(mh), lambda m: hex_int_col(m, 1, 8)))
        .withColumn(hlo, F.transform(F.col(mh), lambda m: hex_int_col(m, 9, 8)))
    )
    out = out.withColumn(hi_col, _pack_votes(_vote_counts(F.col(hhi))))
    out = out.withColumn(lo_col, _pack_votes(_vote_counts(F.col(hlo))))
    return out.drop(ws, mh, hhi, hlo)


def with_portable_simhash_arrow(df, text_col: str, hi_col: str, lo_col: str):
    """Arrow-stage twin of :func:`with_portable_simhash` — value-identical
    output (pytest-pinned), ~6x cheaper per row at the bench shape.

    Why (guide §4.2): the Column-expression form evaluates interpreted
    higher-order functions per token — md5, two hex-substring conversions,
    and two 32-element ``zip_with`` vote updates — ~130 interpreted expr
    nodes per token. Here tokenization stays JVM-side (``portable_words_col``
    — identical lower/split semantics, no dialect risk), the token arrays
    cross Arrow once, and the md5 → per-bit vote → pack math runs as ~10
    numpy batch ops via ``np.unpackbits`` + segmented ``np.add.reduceat``:

      hi = int(md5_hex[0:8], 16)  = big-endian digest bytes 0..3
      lo = int(md5_hex[8:16], 16) = big-endian digest bytes 4..7
      bit b of the output set  ⇔  Σ_tokens (±1 by bit b) > 0

    hashlib.md5 == Spark md5 on the UTF-8 token bytes, unpackbits
    (big-endian byte order, MSB-first) yields exactly [bit31..bit0], and
    every count is int64 — bit-identical by construction. NULL text →
    NULL hi/lo (matches the expression form's null propagation)."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as ST

    keep = list(df.schema.fields)
    out_schema = ST.StructType(
        keep
        + [ST.StructField(hi_col, ST.LongType()), ST.StructField(lo_col, ST.LongType())]
    )
    keep_names = [f.name for f in keep]
    ws_col = f"_paw_{lo_col}"
    # bit position of unpacked column i is 31-i → weight 2^(31-i)
    weights = (np.int64(1) << np.arange(31, -1, -1)).astype(np.int64)

    def run(batches):
        import hashlib

        md5 = hashlib.md5
        for rb in batches:
            n = rb.num_rows
            ws = rb.column(rb.schema.get_field_index(ws_col)).to_pylist()
            hi_out = np.zeros(n, dtype=np.int64)
            lo_out = np.zeros(n, dtype=np.int64)
            null_mask = np.zeros(n, dtype=bool)
            counts = np.zeros(n, dtype=np.int64)
            digests = []
            for i, words in enumerate(ws):
                if words is None:
                    null_mask[i] = True
                    continue
                counts[i] = len(words)
                for w in words:
                    digests.append(md5(w.encode("utf-8")).digest())
            if digests:
                raw = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(-1, 16)
                bits_hi = np.unpackbits(raw[:, 0:4], axis=1).astype(np.int64)
                bits_lo = np.unpackbits(raw[:, 4:8], axis=1).astype(np.int64)
                votes_hi = 2 * bits_hi - 1
                votes_lo = 2 * bits_lo - 1
                nz = counts > 0
                starts = np.zeros(int(nz.sum()), dtype=np.int64)
                np.cumsum(counts[nz][:-1], out=starts[1:])
                chi = np.add.reduceat(votes_hi, starts, axis=0)
                clo = np.add.reduceat(votes_lo, starts, axis=0)
                hi_out[nz] = (chi > 0) @ weights
                lo_out[nz] = (clo > 0) @ weights
            yield pa.RecordBatch.from_arrays(
                [rb.column(rb.schema.get_field_index(c)) for c in keep_names]
                + [
                    pa.array(hi_out, type=pa.int64(), mask=null_mask),
                    pa.array(lo_out, type=pa.int64(), mask=null_mask),
                ],
                names=keep_names + [hi_col, lo_col],
            )

    staged = df.withColumn(ws_col, portable_words_col(F.col(text_col)))
    return staged.mapInArrow(run, schema=out_schema)


# ---------------------------------------------------------------------------
# DuckDB side (SQL string builders — same constants, same math)
# ---------------------------------------------------------------------------

HEX = "0123456789abcdef"


def sql_hex_int(expr: str, start: int, length: int) -> str:
    """DuckDB: integer value of hex substring [start, start+length), 1-based.
    ``expr`` must be a plain column reference (it is evaluated per hex char)."""
    return (
        f"list_reduce(list_transform(range({start}, {start + length}), "
        f"i -> CAST(strpos('{HEX}', substring({expr}, i, 1)) - 1 AS BIGINT)), "
        f"(a, b) -> a * 16 + b)"
    )


def minhash_lsh_oracle_sql(num_perm: int = NUM_PERM, bands: int = BANDS,
                           rows: int = ROWS, k: int = 3, seed: int = 42,
                           threshold: float = 0.35) -> str:
    """DuckDB SQL mirroring q_minhash_lsh_docs: portable MinHash → banded
    candidates → slot-agreement verify ≥ threshold."""
    a, b = portable_params(num_perm, seed)
    slot_exprs = ",\n                   ".join(
        f"coalesce(list_min(list_transform(hs, h -> ({a[i]} * h + {b[i]}) % {P31})), {P31})"
        for i in range(num_perm)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band, "
        "array_to_string(sig[{lo}:{hi}], ',') AS bh FROM sig".format(
            j=j, lo=j * rows + 1, hi=(j + 1) * rows)
        for j in range(bands)
    )
    return f"""
        WITH words AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'), w -> w != '') AS ws
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
                      WHEN len(ws) < {k} THEN [array_to_string(ws, ' ')]
                      ELSE list_transform(generate_series(1, len(ws) - {k - 1}),
                                          i -> array_to_string(ws[i:i+{k - 1}], ' '))
                 END AS gs
          FROM words
        ), hv AS (
          SELECT doc_id,
                 list_transform(gs,
                   s -> {sql_hex_int('md5(s)', 1, 15)} % {P31}) AS hs
          FROM sh WHERE len(gs) > 0
        ), sig AS (
          SELECT doc_id, [{slot_exprs}] AS sig
          FROM hv
        ), bands AS (
          {band_rows}
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                       AND a.doc_id < b.doc_id
        ), verified AS (
          SELECT id_a, id_b,
                 len(list_filter(generate_series(1, {num_perm}),
                                 i -> sa.sig[i] = sb.sig[i])) / {float(num_perm)} AS agreement
          FROM cand
          JOIN sig sa ON sa.doc_id = id_a
          JOIN sig sb ON sb.doc_id = id_b
        )
        SELECT id_a, id_b, round(agreement, 6) AS agreement
        FROM verified WHERE agreement >= {threshold}
    """


def watch_oracle_sql(digest_sql: str, num_perm: int = NUM_PERM,
                     bands: int = BANDS, rows: int = ROWS, k: int = 3,
                     seed: int = 42, threshold: float = 0.35) -> str:
    """DuckDB SQL mirroring __spark_entry__.q_watch_arrivals: one watch
    micro-batch over the documents table. State = doc_id % 5 != 0,
    arrivals = doc_id % 5 = 0; the arrival is the victim. Exact matches
    via the digest equi-join (the reference watch's hash-map lookup,
    main.go:1846-1856); text matches via the SAME portable MinHash
    bands + slot-agreement verify as minhash_lsh_oracle_sql, restricted
    to arrival x state pairs. One output row per (new_id, match_kind):
    keeper_id = min matched pre-existing doc, n_matches = distinct
    matched docs."""
    a, b = portable_params(num_perm, seed)
    slot_exprs = ",\n                   ".join(
        f"coalesce(list_min(list_transform(hs, h -> ({a[i]} * h + {b[i]}) % {P31})), {P31})"
        for i in range(num_perm)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band, "
        "array_to_string(sig[{lo}:{hi}], ',') AS bh FROM sig".format(
            j=j, lo=j * rows + 1, hi=(j + 1) * rows)
        for j in range(bands)
    )
    return f"""
        WITH d AS (
          SELECT doc_id, {digest_sql} AS digest, text FROM documents
        ), words AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'), w -> w != '') AS ws
          FROM d
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
                      WHEN len(ws) < {k} THEN [array_to_string(ws, ' ')]
                      ELSE list_transform(generate_series(1, len(ws) - {k - 1}),
                                          i -> array_to_string(ws[i:i+{k - 1}], ' '))
                 END AS gs
          FROM words
        ), hv AS (
          SELECT doc_id,
                 list_transform(gs,
                   s -> {sql_hex_int('md5(s)', 1, 15)} % {P31}) AS hs
          FROM sh WHERE len(gs) > 0
        ), sig AS (
          SELECT doc_id, [{slot_exprs}] AS sig
          FROM hv
        ), bands AS (
          {band_rows}
        ), text_m AS (
          SELECT DISTINCT a.doc_id AS new_id, s.doc_id AS matched_id
          FROM bands a JOIN bands s ON a.band = s.band AND a.bh = s.bh
          WHERE a.doc_id % 5 = 0 AND s.doc_id % 5 <> 0
        ), text_v AS (
          SELECT new_id, matched_id, 'similar_text' AS match_kind
          FROM text_m
          JOIN sig sa ON sa.doc_id = new_id
          JOIN sig sb ON sb.doc_id = matched_id
          WHERE len(list_filter(generate_series(1, {num_perm}),
                                i -> sa.sig[i] = sb.sig[i])) / {float(num_perm)}
                >= {threshold}
        ), exact_m AS (
          SELECT a.doc_id AS new_id, s.doc_id AS matched_id,
                 'exact' AS match_kind
          FROM d a JOIN d s ON a.digest = s.digest
          WHERE a.doc_id % 5 = 0 AND s.doc_id % 5 <> 0
        ), alerts AS (
          SELECT * FROM exact_m UNION ALL SELECT * FROM text_v
        )
        SELECT new_id, match_kind,
               min(matched_id) AS keeper_id,
               count(DISTINCT matched_id) AS n_matches
        FROM alerts
        GROUP BY new_id, match_kind
    """


def simhash_oracle_sql() -> str:
    """DuckDB SQL mirroring q_simhash_docs: per-doc 2x32-bit portable SimHash."""
    return f"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
          FROM documents
        ), tok AS (
          SELECT doc_id, unnest(ws) AS t FROM w
        ), th AS (
          SELECT doc_id, md5(t) AS m FROM tok
        ), h AS (
          SELECT doc_id,
                 {sql_hex_int('m', 1, 8)} AS hi,
                 {sql_hex_int('m', 9, 8)} AS lo
          FROM th
        ), bits AS (
          SELECT doc_id, b,
                 sum(CASE WHEN (hi >> b) & 1 = 1 THEN 1 ELSE -1 END) AS chi,
                 sum(CASE WHEN (lo >> b) & 1 = 1 THEN 1 ELSE -1 END) AS clo
          FROM h, range(32) r(b)
          GROUP BY 1, 2
        ), packed AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN chi > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash_hi,
                 CAST(sum(CASE WHEN clo > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash_lo
          FROM bits GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(p.simhash_hi, 0) AS simhash_hi,
               coalesce(p.simhash_lo, 0) AS simhash_lo
        FROM documents d LEFT JOIN packed p ON p.doc_id = d.doc_id
    """
