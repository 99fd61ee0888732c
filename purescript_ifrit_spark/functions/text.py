"""Text primitives as JVM-side Column expressions — no Python UDFs.

Everything here stays inside whole-stage codegen (built-in
pyspark.sql.functions only), so it runs at full scan speed on a 100 TB
corpus. These are the building blocks for operators/text_analysis.py and
operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A deliberately simple, deterministic tokenizer contract shared by every
# consumer (and by the DuckDB oracles, which replicate these expressions):
#   normalize = lower + collapse whitespace + strip
#   tokens    = split on \s+
_WS = r"\s+"


def normalize_text(c: Column) -> Column:
    """Lowercase, collapse internal whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), _WS, " "))


def tokens(c: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(c), " ")


def token_count(c: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text.

    Space-counting, not split(): normalized text separates n tokens with
    exactly n-1 single spaces, so n = (length - length(spaces removed)) + 1.
    translate is a char-level pass — no token array is ever allocated
    (split-based counting materializes every token string just to take the
    array's size, and the `when` branch hides it from codegen's
    subexpression elimination so it re-evaluates per reference)."""
    s = normalize_text(c)
    return F.when(F.length(s) == 0, F.lit(0)).otherwise(
        F.length(s) - F.length(F.translate(s, " ", "")) + 1
    )


def bpe_ish_token_count(c: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND
    letter/digit/punctuation boundaries — a cheap, deterministic proxy for a
    BPE tokenizer's token count (useful for budget accounting before real
    tokenization). regexp_count avoids materializing the match array."""
    return F.regexp_count(F.lower(c), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))


def word_shingles(c: Column, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined), distinct.

    Single regex pass with a lookahead capture — `(?=(tok tok tok))` captures
    the overlapping n-gram while `(?:\\S+ ?)` consumes one token. Benchmarked
    13× faster than the transform+slice+array_join construction (higher-order
    functions execute interpreted, outside whole-stage codegen; one regex
    scan stays in a codegen'd projection). Texts shorter than n words yield
    a single shingle of the whole text, so every non-empty doc has ≥1
    shingle (the regex alone would yield none — hence the fallback branch).
    Blank/whitespace-only AND NULL text yield an EMPTY array (not [""] or
    [NULL]): content-free docs must never shingle-match each other, and
    callers filter on size(shingles) > 0. (The NULL leg is load-bearing:
    `length(NULL) == 0` is NULL, so without the isNull test NULL-text rows
    would fall through to the otherwise branch as the single shingle set
    [NULL], making every missing-text doc a jaccard-1.0 pair of every
    other.)
    """
    return word_shingles_normed(normalize_text(c), n)


def word_shingles_normed(s: Column, n: int = 3) -> Column:
    """word_shingles over an ALREADY-NORMALIZED string column — the
    shared-projection variant. Catalyst does not CSE across operators, so
    a pipeline that has materialized normalize_text once (e.g.
    operators/pipeline.curate's persisted scored stage) passes that
    column here instead of paying the normalization regex again — and
    again inside each `when` branch, where codegen's subexpression
    elimination cannot see it. Output is identical to word_shingles for
    s = normalize_text(c) (the tree below is word_shingles' with s
    substituted; split(s) ≡ tokens(c) on normalized text)."""
    toks = F.split(s, " ")
    rx = "(?=(" + " ".join([r"\S+"] * n) + r"))(?:\S+ ?)"
    grams = F.array_distinct(F.regexp_extract_all(s, F.lit(rx), 1))
    empty = F.array().cast("array<string>")
    return (
        F.when(s.isNull() | (F.length(s) == 0), empty)
        .when(F.size(toks) >= n, grams)
        .otherwise(F.array(s))
    )


def nonspace_char_count(c: Column) -> Column:
    """Count of non-space characters — ZERO extra scan: normalized text
    separates its n tokens with exactly n-1 single spaces, so
    nonspace = length - (n_tokens - 1) (and 0 for blank text)."""
    return F.length(normalize_text(c)) - F.greatest(
        token_count(c) - F.lit(1), F.lit(0)
    )


def punct_char_count(c: Column) -> Column:
    """Count of punctuation/symbol characters (anything outside [a-z0-9 ]
    in the normalized text). regexp_count counts matches directly — no
    replacement string is materialized (the regexp_replace+length
    construction allocates a copy of every row just to measure it)."""
    return F.regexp_count(normalize_text(c), F.lit(r"[^a-z0-9 ]"))


def punct_ratio(c: Column) -> Column:
    """Fraction of non-space characters that are punctuation/symbols.

    Built from the same nonspace_char_count/punct_char_count subtrees the
    quality score uses, so whole-stage codegen's subexpression elimination
    computes them once when both appear in one projection."""
    nonspace = nonspace_char_count(c)
    punct = punct_char_count(c)
    return F.when(nonspace == 0, F.lit(0.0)).otherwise(
        punct.cast("double") / nonspace.cast("double")
    )


def mean_token_len(c: Column) -> Column:
    """Mean token length — closed form over the normalized text (total token
    chars = length minus the single separating spaces), no per-token fold
    (higher-order folds execute interpreted, outside codegen)."""
    s = normalize_text(c)
    n = token_count(c)
    total_chars = (F.length(s) - (n - F.lit(1))).cast("double")
    return F.when(n == 0, F.lit(0.0)).otherwise(total_chars / n.cast("double"))


DEFAULT_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def _stop_rx(stopwords: tuple) -> str:
    import re as _re

    # escape each word: callers may pass tokens containing regex
    # metacharacters ("c++", "a.b") and the contract is literal equality
    return "(?:^| )(?:" + "|".join(_re.escape(w) for w in stopwords) + ")(?= |$)"


def stopword_ratio(c: Column, stopwords: tuple = DEFAULT_STOPWORDS) -> Column:
    """Fraction of tokens that are (English) stopwords — a classic quality
    signal: natural text has ~0.2-0.4, keyword spam ~0.

    Counted with one regexp_count over the normalized text (whole tokens
    delimited by space/string edges — identical semantics to a per-token
    equality fold, which would run interpreted)."""
    s = normalize_text(c)
    n = token_count(c)
    n_hits = F.regexp_count(s, F.lit(_stop_rx(stopwords)))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        n_hits.cast("double") / n.cast("double")
    )


def fingerprint(c: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Identical post-normalization content → identical fingerprint, the key
    for exact dedup across a distributed corpus."""
    return F.md5(normalize_text(c))


# rolling-hash parameters: Mersenne-prime modulus keeps every intermediate
# (h·31 + codepoint) under 2^36 — safe in long arithmetic with Spark's
# default ANSI overflow checking
ROLLING_BASE = 31
ROLLING_MOD = 2_147_483_647


def rolling_fingerprint(c: Column) -> Column:
    """Polynomial rolling-hash fingerprint of the normalized text:
    h = fold(h·31 + codepoint) mod (2³¹−1), the classic Rabin-Karp /
    Java-hashCode construction — a cheap numeric alternative to the md5
    fingerprint when the consumer wants a joinable integer key (bucket
    ids, modulo-sharding) rather than a hex digest. Whole-stage-codegen'd
    higher-order fold; empty text hashes to 0.

    Scale caveat: the fold materializes a per-character array per row
    (~16 bytes/char transient). Fine at normal document sizes; for
    multi-MB outliers prefer `fingerprint()` (md5 is streaming) or derive
    an integer key from its hex (conv of a prefix)."""
    n = normalize_text(c)
    folded = F.aggregate(
        F.split(n, ""),
        F.lit(0).cast("long"),
        lambda h, ch: (h * F.lit(ROLLING_BASE) + F.ascii(ch))
        % F.lit(ROLLING_MOD),
    )
    return F.when(F.length(n) == 0, F.lit(0).cast("long")).otherwise(folded)


# language → stopword alternation, deliberately tiny and deterministic.
# Order matters: ties resolve in this priority order.
LANG_MARKERS = (
    ("en", r"\b(the|of|and|is|to)\b"),
    ("de", r"\b(der|die|das|und|ist)\b"),
    ("fr", r"\b(le|la|les|et|est)\b"),
    ("es", r"\b(el|los|las|es|y)\b"),
)


def lang_id(c: Column) -> Column:
    """Heuristic language ID: argmax of stopword-marker counts; 'und' when
    no marker hits. Ties resolve by LANG_MARKERS priority order."""
    s = F.lower(c)
    scores = {
        lang: F.size(F.regexp_extract_all(s, F.lit(rx), 0))
        for lang, rx in LANG_MARKERS
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reversed so earlier langs win ties
    for lang, _ in reversed(LANG_MARKERS):
        expr = F.when(
            (scores[lang] > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(expr)
    return expr


def _idiv(x: Column, y: Column) -> Column:
    """Exact integer division for positive longs, in the Column DSL.
    (x - pmod(x,y)) is exactly divisible by y, and an integer quotient
    ≤ 2^53 is exactly representable, so the IEEE division is exact —
    unlike floor(x/y), which can be off by one when the float quotient
    rounds across an integer."""
    return ((x - F.pmod(x, y)) / y).cast("long")


def quality(c: Column) -> Column:
    """Scalar quality score in [0,1] (the dialect QUALITY function):
    penalizes too-short docs, punctuation soup and stopword-free keyword
    spam. Deterministic, linear, NOT a learned model.

    Cross-engine-exact by construction: ratios are quantized to integer
    MICRO-units with half-up *integer* division (round-half-up of k/n is
    (2k·10⁶ + n) div 2n — no float anywhere), the three terms combine in
    integer deci-micros, and the single float op is the final exact
    int→double division by 10⁷. Any formula that rounds *floating* ratios
    lands on decimal half-boundaries (e.g. a 6dp value × 1.5) where
    engines' rounding implementations legitimately disagree — this one has
    no boundary to disagree on. Kept in lock-step with the Spark-SQL twin
    in functions/dialect_ext.py and the DuckDB oracles in suite.py:

        len_micro   = least(n_tokens · 10⁴, 10⁶)
        punct_micro = half_up(punct_chars · 10⁶ / nonspace_chars)
        stop_micro  = half_up(stopword_tokens · 10⁶ / n_tokens)
        quality     = (4·len_micro + 3·(10⁶ − least(4·punct_micro, 10⁶))
                       + 3·least(5·stop_micro, 10⁶)) / 10⁷
    """
    # The expensive subtrees (normalize regex, translate, regexp_counts)
    # are built ONCE at unconditional positions: `when` branches are
    # invisible to codegen's subexpression elimination, so an expression
    # referenced only inside conditionals re-evaluates per reference.
    # token_count is re-derived from the shared `spaces` subtree here
    # instead of calling token_count(c) (which hides translate in a branch).
    # For wide plans prefer operators/text_analysis.quality_score, which
    # stages the integer inputs as real columns.
    s = normalize_text(c)
    len_s = F.length(s)
    spaces = len_s - F.length(F.translate(s, " ", ""))
    n = F.when(len_s == 0, F.lit(0)).otherwise(spaces + 1)
    nonspace = len_s - spaces
    return quality_from_parts(
        n,
        nonspace,
        punct_char_count(c),
        F.regexp_count(s, F.lit(_stop_rx(DEFAULT_STOPWORDS))),
    )


def quality_from_parts(
    n_tokens: Column, nonspace: Column, punct: Column, stop_hits: Column
) -> Column:
    """The quality formula as pure integer arithmetic over its four integer
    inputs (see `quality` for the formula and the cross-engine-exactness
    argument). Split out so operators that already computed the inputs as
    columns (operators/text_analysis.quality_score stages them in one
    projection) can combine them without re-running any text scan."""
    n = n_tokens.cast("long")
    nonspace = nonspace.cast("long")
    punct = punct.cast("long")
    hits = stop_hits.cast("long")
    m = F.lit(1_000_000).cast("long")
    punct_micro = F.when(nonspace == 0, F.lit(0).cast("long")).otherwise(
        _idiv(punct * 2_000_000 + nonspace, nonspace * 2)
    )
    stop_micro = F.when(n == 0, F.lit(0).cast("long")).otherwise(
        _idiv(hits * 2_000_000 + n, n * 2)
    )
    len_micro = F.least(n * 10_000, m)
    q_dm = (
        4 * len_micro
        + 3 * (m - F.least(4 * punct_micro, m))
        + 3 * F.least(5 * stop_micro, m)
    )
    return q_dm.cast("double") / F.lit(10_000_000.0)


def bind_once(c: Column, f) -> Column:
    """Evaluate `c` ONCE per row and pass the result to `f` as a bound
    lambda variable. Lambda bodies in Spark higher-order functions run
    interpreted with NO subexpression elimination, so a computed array
    referenced inside a transform/filter lambda is re-evaluated per
    ELEMENT — tokens(text) inside an n-gram transform re-runs the
    lower+regexp+split chain once per POSITION, turning a linear scan
    quadratic (measured: the sf0.1 span-dedup position build dropped
    3.8 s → 0.7 s from this binding alone; SCALE.md r7). Wrapping as
    element_at(transform(array(c), f), 1) makes `c` the HOF's input —
    evaluated once — and every reference inside `f` a variable read."""
    return F.element_at(F.transform(F.array(c), f), 1)


def chunk_array(c: Column, chunk_tokens: int = 64, overlap: int = 8) -> Column:
    """Array of fixed-size token windows with overlap (the dialect CHUNK
    function and the kernel of operators.text_analysis.chunk_documents).

    chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk may be short; documents
    shorter than one chunk yield exactly one chunk. Pure higher-order
    functions — evaluates in the scan stage, no shuffle."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap

    def mk(toks):
        # toks is a BOUND variable (bind_once): the tokenizer runs once
        # per row, not once per chunk
        n = F.size(toks)
        extra = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
        n_chunks = F.lit(1) + F.ceil(extra / F.lit(stride)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, i * stride + 1, chunk_tokens), " "
            ),
        )

    return bind_once(tokens(c), mk)
