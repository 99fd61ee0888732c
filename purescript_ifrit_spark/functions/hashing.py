"""Hashing primitives for fuzzy dedup: MinHash and SimHash signatures as
Column expressions (JVM-side; xxhash64 is Spark's built-in 64-bit hash).

Scale design: signatures are computed in the scan stage (no shuffle), and
downstream LSH banding turns O(n²) similarity into an equi-join on band
keys — the only shuffle is by band hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: array<bigint> of length `num_hashes`.

    Each shingle string is hashed ONCE (xxhash64 → long); each lane then
    re-hashes that 8-byte long with a lane seed — far cheaper than hashing
    the variable-length string per lane, and overflow-free under ANSI mode
    (an affine a·h+b mix would throw on long overflow with
    spark.sql.ansi.enabled).

    Single fold over the hashed array, all lanes per element (benchmarked
    25% faster than num_hashes separate array_min(transform) passes once
    shingle construction stopped dominating — higher-order functions run
    interpreted, so one traversal beats 32). Lane seeding MUST use
    single-parameter lambdas: pyspark treats any two-parameter lambda
    (even `lambda h, i=i:`) as (element, index) and silently passes the
    array index as the second argument, collapsing every lane. Empty
    shingle arrays yield a NULL signature (enforced here, not just
    documented): MAX_LONG seed lanes would make every empty doc an
    identical — and therefore pairwise-candidate — signature.
    """
    max_long = (1 << 63) - 1
    hashed = F.transform(shingles, lambda s: F.xxhash64(s))
    agg = F.aggregate(
        hashed,
        F.array_repeat(F.lit(max_long).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.xxhash64(F.lit(i), h) for i in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )
    return F.when(F.size(shingles) > 0, agg)


def minhash_hexsig_sql(
    x: str, num_hashes: int = 16, shingle_words: int = 3
) -> str:
    """MinHash signature of a raw text operand `x` rendered as ONE
    ':'-joined hex string in Spark SQL — the dialect MINHASH (a string
    scalar can be a GROUP BY key, which is the signature-exact dedup
    move; an array cannot). Normalize → word-shingle → 16-lane fold →
    hex join, each step the SQL rendering of minhash_signature over
    functions/text.word_shingles, so the lanes stay bit-identical to the
    operators/dedup family (b=8, r=2 geometry reads the same 16 lanes;
    pinned in tests). Empty shingle sets (blank/NULL text) yield NULL,
    not a shared constant — content-free docs must never
    signature-match each other."""
    n = f"trim(regexp_replace(lower({x}), '\\\\s+', ' '))"
    grams = " ".join(["\\\\S+"] * shingle_words)
    rx = f"'(?=({grams}))(?:\\\\S+ ?)'"
    sh = (
        f"CASE WHEN {n} IS NULL OR length({n}) = 0 "
        "THEN CAST(array() AS ARRAY<STRING>) "
        f"WHEN size(split({n}, ' ')) >= {shingle_words} "
        f"THEN array_distinct(regexp_extract_all({n}, {rx}, 1)) "
        f"ELSE array({n}) END"
    )
    lanes = ",".join(f"xxhash64({i}, h)" for i in range(num_hashes))
    agg = (
        f"aggregate(transform({sh}, s -> xxhash64(s)), "
        f"array_repeat(CAST(9223372036854775807 AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, array({lanes}), (a, b) -> least(a, b)))"
    )
    guarded = f"CASE WHEN size({sh}) > 0 THEN {agg} END"
    return f"array_join(transform({guarded}, v -> hex(v)), ':')"


def minhash_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Split a signature into `bands` hashed band keys:
    array<struct<band:int, key:bigint>>. Docs sharing ANY band key are
    LSH candidates (prob. of sharing a band ≈ 1-(1-j^r)^b for Jaccard j)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at(signature, b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def minhash_bands_sql(lane_cols, bands: int, rows_per_band: int) -> str:
    """minhash_bands as ONE SQL expression string over named signature
    lane columns (no array assembly). Semantically identical to
    minhash_bands over array(lane_cols...): integer SQL literals type as
    INT exactly like F.lit(b), and xxhash64 sees the same BIGINT lanes in
    the same order — pinned against the Column form in tests.

    Why a string: the Column form costs ~7 py4j constructor round trips
    per band (~120 ms of pure driver chatter for b=8 on a fresh plan —
    the bench/driver contract builds a fresh plan every run). One
    F.expr(...) parses JVM-side in one call. Same move as the signature
    lanes in minhash_candidate_pairs (SCALE.md round-6 fresh-plan note).
    """
    parts = []
    for b in range(bands):
        lanes = ",".join(
            str(lane_cols[b * rows_per_band + r]) for r in range(rows_per_band)
        )
        parts.append(f"named_struct('band',{b},'key',xxhash64({lanes}))")
    return "array(" + ",".join(parts) + ")"


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def simhash_signature(toks: Column, bits: int = 64) -> Column:
    """SimHash: one bigint whose bit k is the sign of the sum over tokens of
    (bit k of xxhash64(token) ? +1 : -1).

    Expressed with higher-order functions: fold tokens into a `bits`-wide
    counter array, then collapse signs to a single integer. Stays JVM-side;
    cost is O(tokens × bits) bit-tests per doc in codegen — fine for
    signature computation in the scan stage.
    """
    # shift amounts must be Python ints in the DSL, so the bit lanes are
    # unrolled statically (bits is a compile-time constant)
    counters = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(F.xxhash64(t), k).bitwiseAND(F.lit(1))
                    for k in range(bits)
                ]
            ),
            lambda c, bit: c + F.when(bit == 1, 1).otherwise(-1),
        ),
    )
    # collapse: set bit k where counters[k] > 0; the top bit is the signed
    # long's sign bit in two's complement
    def _bit_value(k: int) -> int:
        v = 1 << k
        return v - (1 << bits) if k == bits - 1 else v

    sig = F.lit(0).cast("long")
    for k in range(bits):
        sig = sig + F.when(
            F.element_at(counters, k + 1) > 0, F.lit(_bit_value(k)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sig


def simhash_hex_sql(x: str, bits: int = 64) -> str:
    """64-bit SimHash of the normalized whitespace tokens of a raw text
    operand `x`, rendered as ONE 16-hex-digit string in Spark SQL — the
    dialect SIMHASH (a string scalar can be a GROUP BY key). Normalize →
    tokenize → 64-lane sign fold → %016X format: the same xxhash64 per
    word token and sign rule (2·count_set(k) > n_tokens) as
    simhash_signature and the operators/dedup simhash family —
    bit-identical, pinned in tests — so `GROUP BY SIMHASH(text)` is
    exactly the hamming-0 tier of that family's blocking. The fold and
    the collapse use generic HOFs over sequence(0, bits-1) instead of
    simhash_signature's static unroll: value-identical, and the whole
    expression parses JVM-side in one call. Blank/NULL text → NULL,
    never a shared constant."""
    n = f"trim(regexp_replace(lower({x}), '\\\\s+', ' '))"
    last = bits - 1
    counters = (
        f"aggregate(split({n}, ' '), "
        f"array_repeat(0L, {bits}), "
        f"(acc, t) -> zip_with(acc, "
        f"transform(sequence(0, {last}), k -> shiftright(xxhash64(t), k) & 1L), "
        f"(c, b) -> c + IF(b = 1, 1L, -1L)))"
    )
    # transform-as-let: bind the counters array ONCE (embedding it in
    # the per-bit lambda would textually replicate — and re-evaluate —
    # the whole fold `bits` times)
    sig = (
        f"element_at(transform(array({counters}), "
        f"cnt -> aggregate(sequence(0, {last}), 0L, "
        f"(s, k) -> s + IF(element_at(cnt, k + 1) > 0, "
        f"shiftleft(1L, k), 0L))), 1)"
    )
    return (
        f"CASE WHEN {n} IS NOT NULL AND length({n}) > 0 "
        f"THEN format_string('%0{bits // 4}X', {sig}) END"
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_chunks(sig: Column, chunks: int = 4, bits: int = 64) -> Column:
    """Split a simhash into `chunks` equal bit-slices for LSH blocking:
    two docs within hamming distance < chunks share at least one slice
    (pigeonhole). Returns array<struct<chunk:int, key:bigint>>."""
    width = bits // chunks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftrightunsigned(sig, i * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for i in range(chunks)
        ]
    )
