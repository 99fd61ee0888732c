"""Hashing primitives for fuzzy dedup: MinHash and SimHash signatures as
Column expressions (JVM-side; xxhash64 is Spark's built-in 64-bit hash).

Scale design: signatures are computed in the scan stage (no shuffle), and
downstream LSH banding turns O(n²) similarity into an equi-join on band
keys — the only shuffle is by band hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the dialect's SQL renderings are Spark-free (functions/hashing_sql.py);
# re-exported here next to their Column forms
from purescript_ifrit_spark.functions.hashing_sql import (  # noqa: F401
    minhash_hexsig_sql,
    simhash_hex_sql,
)


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
