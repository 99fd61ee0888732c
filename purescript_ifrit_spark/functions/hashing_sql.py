"""Spark SQL renderings of the hashing recipes: the dialect SPLIT, MINHASH
and SIMHASH texts. Imports no pyspark, so rendering those functions to SQL
stays Spark-free; the Column forms live in functions/hashing.py and
operators/sampling.py, which import these."""

from __future__ import annotations

from typing import Sequence, Tuple

_SPACE = 16**8  # the md5-prefix draw space


def _hex_cut(fraction: float) -> str:
    """The 8-char lowercase hex cutpoint h such that P(draw < h) = fraction."""
    return format(min(int(fraction * _SPACE), _SPACE - 1), "08x")


def hash_split_sql(
    id_expr: str,
    weights: Sequence[Tuple[str, float]] = (("train", 0.98), ("val", 0.01), ("test", 0.01)),
    salt: str = "v1",
) -> str:
    """The ANSI-SQL twin of `hash_split` (same cutpoints, same md5 draw) —
    runnable by DuckDB/Spark SQL alike; used by the driver oracle."""
    if not weights:
        raise ValueError("weights must name at least one split")
    for name, w in weights:
        if w <= 0:
            raise ValueError(
                f"split weight for {name!r} must be positive (got {w})"
            )
    total = sum(w for _, w in weights)
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1 (got {total})")

    def q(s: str) -> str:
        return s.replace("'", "''")  # SQL string-literal escaping

    tail = f"'{q(weights[-1][0])}'"
    if len(weights) == 1:
        # r8 review: zero WHEN clauses ("CASE ELSE ... END") is a parse
        # error on both engines; the Python twin's single-split answer
        # is the bare tail literal
        return tail
    draw = f"substr(md5({id_expr} || ':{salt}'), 1, 8)"
    cum, whens = 0.0, []
    for name, w in weights[:-1]:
        cum += w
        whens.append(f"WHEN {draw} < '{_hex_cut(cum)}' THEN '{q(name)}'")
    return "CASE " + " ".join(whens) + f" ELSE {tail} END"


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
