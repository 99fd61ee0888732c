"""Dialect extension functions — SURVEY.md §2.7 exposed IN the query dialect
(SURVEY §7 phase 6: "each as a dialect function compiling to public Spark
primitives"). This is an engine extension with no reference counterpart;
the reference grammar (Lexer.purs:193-195) knows only AVG|COUNT|MAX|MIN|SUM.

Surface (each takes one string-typed field path, like the built-in fns):

    SELECT TOKEN_COUNT(text) AS n          -- whitespace token count (number)
    SELECT QUALITY(text)     AS q          -- scalar quality score (number)
    SELECT LANG_ID(text)     AS lang       -- heuristic language id (string)
    SELECT FINGERPRINT(text) AS fp         -- md5 of normalized text (string)
    SELECT CHUNK(text)       AS chunks     -- 64-token/8-overlap windows
                                           -- (array of strings)
    SELECT REDACT(text)      AS clean      -- URL/email/phone → placeholder
                                           -- tokens (string)
    SELECT MIN(doc_id) AS doc_id GROUP BY FINGERPRINT(text)
                                           -- exact dedup: min id per
                                           -- normalized-content group

    SELECT TUMBLE(ts)        AS hour        -- hour-start epoch seconds
                                           -- (number; tz-free bucketing)
    SELECT COUNT(event_id) AS n GROUP BY TUMBLE(ts)
                                           -- events-per-hour rollup
    SELECT event_id, SESSIONIZE(ts) AS sid -- 30-min-gap session id per row
                                           -- (analytic — see below)

Extension functions are projection-mode scalars (per row, scan-stage Spark
SQL expressions — never Python UDFs, with ONE documented exception:
IMAGE_DHASH is an Arrow-vectorized pandas_udf, because a binary image
decode is not expressible as a SQL expression; it is still scan-stage and
batch-transferred, never row-at-a-time; NFC shares the exception for
codepoint recomposition). They are rejected inside grouped SELECT lists,
and every one except CHUNK (whose result is an array) can serve as a GROUP
BY key. Each function is one renderer, `sql(x) -> str`, that
plans/spark_sql.py — the one dialect backend — inlines; tests compare its
values with the operator-level functions (functions/text, operators/*).
The IMAGE_DHASH and NFC renderings call the session functions
`ifrit_image_dhash` / `ifrit_nfc`: `planner.build` registers them when a
statement uses them; run `register_sql_functions(spark)` before executing
`to_spark_sql` text by hand.

    SELECT media_id, IMAGE_DHASH(payload) AS dhash
                                           -- 64-bit perceptual hash of a
                                           -- netpbm/PNG/baseline-JPEG
                                           -- payload (codec sniffed from
                                           -- magic bytes; poison → NULL)
    SELECT MIN(media_id) AS keep GROUP BY IMAGE_DHASH(payload)
                                           -- perceptual exact-dup groups

    SELECT doc_id WHERE GOPHER(text) = true -- Gopher rule-set pass/fail
                                           -- (boolean; default thresholds)

    SELECT doc_id WHERE C4PASS(text) = true -- C4 line+page rules pass/fail
                                           -- (boolean; default thresholds)

    SELECT doc_id, MINHASH(text) AS sig    -- 16-lane MinHash signature as
                                           -- one ':'-joined hex string
                                           -- (normalize → 3-word shingles;
                                           -- blank/NULL text → NULL)
    SELECT MIN(doc_id) AS keep GROUP BY MINHASH(text)
                                           -- signature-exact near-dup
                                           -- collapse (whitespace/case
                                           -- variants share signatures)

    SELECT doc_id, NFC(text) AS t          -- Unicode NFC canonicalization
                                           -- (string; pandas_udf
                                           -- exception #2)
    SELECT MIN(doc_id) AS keep GROUP BY NFC(text)
                                           -- canonicalization-aware key

    SELECT doc_id, BM25(text) AS score    -- Okapi BM25 vs the frozen
                                           -- query/index stats (number;
                                           -- blank → 0.0, NULL → NULL)
    SELECT doc_id WHERE BM25(text) > 2.0   -- relevance screen

SESSIONIZE is the one ANALYTIC extension (`analytic=True`): it compiles to
window expressions (lag → gap flag → running sum — the same single-shuffle
shape as operators/windows.sessionize) rather than a scan-stage scalar, so
it is projection-only: no WHERE, no GROUP BY key, no grouped SELECT (wrap
it in a derived table and aggregate the result instead — see DIALECT.md).
Spark forbids nesting a window function inside another window aggregate in
one expression, so analytic fns declare `stages_sql`: intermediate columns
rendered as one extra subquery level below the final select. Like
SPLIT/CHUNK, the one-argument grammar fixes the geometry: partition key
`user_id`, tiebreak `event_id` (both must exist in the queried document —
analyzer-checked via `requires`), gap 30 minutes. The Python API (operators/windows.sessionize)
takes all of these as parameters.

Caveat (documented in DIALECT.md): these uppercase names become function
tokens, so a *field* literally named TOKEN_COUNT/QUALITY/LANG_ID/
FINGERPRINT/CHUNK can no longer be selected bare — same shadowing rule the
reference applies to AVG..SUM.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Dict, Iterable, Optional

from purescript_ifrit_spark.schema import Schema

# Importing this module runs no pyspark import: the parser and analyzer
# read EXT_FUNCTIONS' names and metadata on the compile path. Renderers
# import their Spark-free SQL modules (functions/*_sql.py, stopwords.py)
# when called, so rendering any statement to SQL text imports no pyspark;
# only the IMAGE_DHASH / NFC pandas_udf factories need Spark.

# chunking geometry of the dialect CHUNK function (fixed: the one-argument
# fn grammar has no room for parameters; the Python API takes them)
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 8


def _norm_sql(x: str) -> str:
    # SQL twin of functions/text.normalize_text
    return f"trim(regexp_replace(lower({x}), '\\\\s+', ' '))"


def _token_count_sql(x: str) -> str:
    # space-counting identity (functions/text.token_count): no token array
    n = _norm_sql(x)
    return (
        f"CASE WHEN length({n}) = 0 THEN 0 "
        f"ELSE length({n}) - length(translate({n}, ' ', '')) + 1 END"
    )


def _quality_sql(x: str) -> str:
    from purescript_ifrit_spark.functions import stopwords as X

    # integer micro-unit arithmetic, value-identical to functions/text.quality
    # (see its docstring for why no float ratio rounding may appear here);
    # `div` is Spark SQL's exact integer division
    n = _norm_sql(x)
    # same no-extra-scan identities as functions/text.quality: the token
    # count re-derives from the unconditional `spaces` subtree (CASE
    # branches hide expressions from codegen subexpression elimination),
    # and punct is counted, not replaced-then-measured
    spaces = f"(CAST(length({n}) AS BIGINT) - length(translate({n}, ' ', '')))"
    ntok = f"CAST(CASE WHEN length({n}) = 0 THEN 0 ELSE {spaces} + 1 END AS BIGINT)"
    nonspace = f"(CAST(length({n}) AS BIGINT) - {spaces})"
    punct = f"CAST(regexp_count({n}, '[^a-z0-9 ]') AS BIGINT)"
    # same generator as functions/text.quality — editing DEFAULT_STOPWORDS
    # changes both (a hard-coded twin here would silently diverge)
    stop_rx = X._stop_rx(X.DEFAULT_STOPWORDS).replace("\\", "\\\\")
    hits = f"CAST(regexp_count({n}, '{stop_rx}') AS BIGINT)"
    punct_micro = (
        f"CASE WHEN {nonspace} = 0 THEN 0L "
        f"ELSE (({punct} * 2000000 + {nonspace}) div ({nonspace} * 2)) END"
    )
    stop_micro = (
        f"CASE WHEN {ntok} = 0 THEN 0L "
        f"ELSE (({hits} * 2000000 + {ntok}) div ({ntok} * 2)) END"
    )
    len_micro = f"least({ntok} * 10000, 1000000L)"
    q_dm = (
        f"(4 * {len_micro} + 3 * (1000000 - least(4 * {punct_micro}, 1000000L)) "
        f"+ 3 * least(5 * {stop_micro}, 1000000L))"
    )
    return f"(CAST({q_dm} AS DOUBLE) / 10000000.0D)"


def _lang_id_sql(x: str) -> str:
    from purescript_ifrit_spark.functions import stopwords as X

    def score(rx: str) -> str:
        lit = rx.replace("\\", "\\\\")
        return f"size(regexp_extract_all(lower({x}), '{lit}', 0))"

    scores = {lang: score(rx) for lang, rx in X.LANG_MARKERS}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = " ".join(
        f"WHEN {s} > 0 AND {s} = {best} THEN '{lang}'"
        for lang, s in scores.items()
    )
    return f"CASE {whens} ELSE 'und' END"


def _fingerprint_sql(x: str) -> str:
    return f"md5({_norm_sql(x)})"


# fixed split geometry of the dialect SPLIT function (the one-argument fn
# grammar has no room for parameters; the Python API takes weights/salt)
SPLIT_WEIGHTS = (("train", 0.98), ("val", 0.01), ("test", 0.01))
SPLIT_SALT = "v1"


def _split_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.hashing_sql import hash_split_sql

    # CAST: numeric ids draw on their string form, like split_expr's cast
    return hash_split_sql(f"CAST({x} AS STRING)", SPLIT_WEIGHTS, SPLIT_SALT)


def _chunk_sql(x: str) -> str:
    n = _norm_sql(x)
    toks = f"split({n}, ' ')"
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    n_chunks = (
        f"(1 + CAST(ceil(greatest(size({toks}) - {CHUNK_TOKENS}, 0) "
        f"/ {stride}) AS INT))"
    )
    return (
        f"transform(sequence(0, {n_chunks} - 1), "
        f"i -> array_join(slice({toks}, i * {stride} + 1, {CHUNK_TOKENS}), ' '))"
    )


def _redact_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.text_sql import redact_sql

    return redact_sql(x)


def _vectorize_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.vector_sql import vectorize_sql

    return vectorize_sql(x)


def _quality_score_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.vector_sql import hash_margin_sql

    return hash_margin_sql(x)


def _gopher_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.text_sql import gopher_pass_sql

    return gopher_pass_sql(x)


def _c4pass_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.text_sql import c4_pass_sql

    return c4_pass_sql(x)


def _minhash_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.hashing_sql import minhash_hexsig_sql

    return minhash_hexsig_sql(x, 16, 3)


def _simhash_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.hashing_sql import simhash_hex_sql

    return simhash_hex_sql(x, 64)


# Frozen BM25 model (VERDICT r8 #6). The one-argument fn grammar has no
# room for a query or corpus statistics, so — exactly like QUALITY_SCORE's
# frozen linear model — the dialect BM25 scores against a PINNED query
# with PINNED index statistics (the deployed-ranker convention: a serving
# index's idf/avgdl are frozen snapshots, not live corpus aggregates).
# Corpus-RELATIVE BM25 (df/avgdl computed from the queried corpus, top-k)
# stays in operators/text_analysis.bm25_topk. Every constant is an
# exactly-representable double and the sum has one pinned association
# order, so the scores are reproducible bit for bit.
BM25_K1 = 1.25
BM25_B = 0.75
BM25_AVGDL = 128.0
BM25_QUERY = (("spark", 2.5), ("join", 1.5), ("merge", 0.75))


def _bm25_sql(x: str) -> str:
    # Term frequency WITHOUT a higher-order function: HOF lambdas run
    # interpreted and break the projection out of whole-stage codegen,
    # so tf is counted with pure string ops instead — double every
    # separator space and pad the ends, and ' term ' occurrences can
    # never overlap, making replace-then-length-diff an exact
    # non-overlapping token count. Blank text counts 0 (pad of '' is
    # '  '), NULL text propagates NULL.
    n = _norm_sql(x)
    pad = f"(' ' || replace({n}, ' ', '  ') || ' ')"
    dl = f"CAST(({_token_count_sql(x)}) AS DOUBLE)"
    load = f"({1.0 - BM25_B!r} + ({BM25_B!r} * ({dl} / {BM25_AVGDL!r})))"
    parts = []
    for term, idf in BM25_QUERY:
        m = float(len(term) + 2)
        tf = (
            f"(CAST((length({pad}) - length(replace({pad}, ' {term} ', ''))) "
            f"AS DOUBLE) / {m!r})"
        )
        parts.append(
            f"({idf!r} * (({tf} * {BM25_K1 + 1.0!r}) "
            f"/ ({tf} + ({BM25_K1!r} * {load}))))"
        )
    total = parts[0]
    for p in parts[1:]:
        total = f"({total} + {p})"
    return f"round({total}, 6)"


def _jlproject_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.vector_sql import jlproject_dialect_sql

    return jlproject_dialect_sql(x)


def _pq_encode_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.vector_sql import pq_code_dialect_sql

    return pq_code_dialect_sql(x)


def _htmltext_sql(x: str) -> str:
    from purescript_ifrit_spark.functions.text_sql import html_text_spark_sql

    return html_text_spark_sql(x)


# fixed temporal geometry (the one-argument fn grammar has no room for
# parameters; operators/windows.py + operators/temporal.py take them)
TUMBLE_UNIT_US = 3_600_000_000  # hour
SESSIONIZE_KEY = "user_id"
SESSIONIZE_TIEBREAK = "event_id"
SESSIONIZE_GAP_MIN = 30


def _tumble_sql(x: str) -> str:
    # hour-start epoch SECONDS: compact, and exactly representable in the
    # dialect's double-typed numbers forever (epoch MICROS ~1.7e15 today
    # would also fit 2^53, but only until ~2255 — and hour buckets don't
    # need sub-second resolution anyway). Pure epoch arithmetic —
    # date_trunc would bucket in the session's local timezone. The
    # TIMESTAMP cast is a no-op on TimestampType and makes NTZ inputs
    # legal under the engine's UTC session contract (sources/tables.py).
    return (
        f"(floor(unix_micros(CAST({x} AS TIMESTAMP)) / {TUMBLE_UNIT_US}) "
        f"* {TUMBLE_UNIT_US // 1_000_000})"
    )


def _sessionize_window_sql(x: str) -> str:
    return (
        f"PARTITION BY `{SESSIONIZE_KEY}` "
        f"ORDER BY CAST({x} AS TIMESTAMP), `{SESSIONIZE_TIEBREAK}`"
    )


def _sessionize_new_flag_sql(x: str) -> str:
    # stage column: 1 when this row starts a new session (first event of
    # the key, or gap to the previous event exceeds the threshold)
    w = _sessionize_window_sql(x)
    ts = f"unix_micros(CAST({x} AS TIMESTAMP))"
    prev = f"unix_micros(lag(CAST({x} AS TIMESTAMP)) OVER ({w}))"
    gap = SESSIONIZE_GAP_MIN * 60 * 1_000_000
    return (
        f"CASE WHEN lag(CAST({x} AS TIMESTAMP)) OVER ({w}) IS NULL "
        f"OR {ts} - {prev} > {gap} THEN 1 ELSE 0 END"
    )


def _sessionize_final_sql(x: str, staged: Dict[str, str]) -> str:
    # running sum of new-session flags = 1-based session id; same window
    # spec as the stage, so the physical plan is ONE shuffle + one sort
    # feeding two chained Window operators
    return (
        f"SUM(`{staged['new_s']}`) OVER ({_sessionize_window_sql(x)} "
        "ROWS UNBOUNDED PRECEDING)"
    )


def _image_dhash_udf():
    """The Arrow-batched IMAGE_DHASH kernel as a pandas_udf — built once
    per call site (the closure is self-contained via the multimodal
    factory chain, so workers need no package import)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from purescript_ifrit_spark.operators.multimodal import (
        _make_payload_dhash,
    )

    go = _make_payload_dhash()

    # annotations must be REAL objects for pyspark's eval-type inference,
    # but this module's `from __future__ import annotations` stringifies
    # inline hints (and they would then resolve in function globals,
    # where pd is absent) — so attach them explicitly
    def _kernel(p):
        return p.map(go)

    _kernel.__annotations__ = {"p": pd.Series, "return": pd.Series}
    return pandas_udf(_kernel, "long")


def _image_dhash_sql(x: str) -> str:
    # names the session UDF register_sql_functions() installs
    return f"ifrit_image_dhash({x})"


def _nfc_udf():
    """Arrow-batched NFC normalizer as a pandas_udf — the second
    documented pandas_udf dialect exception (after IMAGE_DHASH): Spark
    has no builtin Unicode normalizer and codepoint recomposition is
    not expressible as a Column tree. Self-contained closure (stdlib
    unicodedata only, imported inside); `str.isascii()` short-circuits
    so mostly-ASCII corpora pay Arrow transfer only — the
    operators/text_cleaning.normalize_unicode kernel, value-identical
    (test-pinned)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _kernel(s):
        import unicodedata

        return s.map(
            lambda x: x
            if x is None or x.isascii()
            else unicodedata.normalize("NFC", x)
        )

    _kernel.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_kernel, "string")


def _nfc_sql(x: str) -> str:
    # names the session UDF register_sql_functions() installs (the
    # IMAGE_DHASH convention)
    return f"ifrit_nfc({x})"


def register_sql_functions(spark, names: Optional[Iterable[str]] = None) -> None:
    """Install the session UDFs rendered SQL can reference
    (`ifrit_image_dhash` for IMAGE_DHASH, `ifrit_nfc` for NFC) — for the
    dialect functions in `names`, or all of them. `planner.build`
    registers what each statement uses; call this only before running
    `to_spark_sql` text through spark.sql() by hand."""
    for fn in EXT_FUNCTIONS.values():
        if fn.udf is not None and (names is None or fn.name in names):
            spark.udf.register(f"ifrit_{fn.name.lower()}", fn.udf())


@dataclass(frozen=True)
class ExtFn:
    """One dialect extension function: name, result schema, and its Spark
    SQL renderer `sql(x) -> str` over a rendered argument `x`.

    Analytic fns (`analytic=True`): window-backed, projection-mode only
    (never WHERE / GROUP BY / grouped SELECT). `stages_sql` lists
    intermediate columns ((name, renderer(x) -> str), ...) rendered one
    subquery level below the final projection (Spark rejects
    window-inside-window in one expression); `sql(x, staged) -> str` then
    references them by name. `requires` names document fields the fixed
    window geometry reads (partition key, tiebreak) — the analyzer checks
    they exist. `udf` builds the pandas_udf the rendering calls as
    `ifrit_<name>` (see register_sql_functions)."""

    name: str
    result: Schema
    sql: Callable[..., str]
    groupable: bool = True  # usable as a GROUP BY key (primitives only)
    arg_kinds: tuple = ("string",)  # accepted argument schema kinds
    analytic: bool = False
    stages_sql: tuple = ()  # ((stage_name, renderer(x)->str), ...)
    requires: tuple = ()  # document fields the window geometry reads
    udf: Optional[Callable[[], Any]] = None  # pandas_udf factory


EXT_FUNCTIONS: Dict[str, ExtFn] = {
    fn.name: fn
    for fn in (
        ExtFn("TOKEN_COUNT", Schema.number(), _token_count_sql),
        ExtFn("QUALITY", Schema.number(), _quality_sql),
        ExtFn("LANG_ID", Schema.string(), _lang_id_sql),
        ExtFn("FINGERPRINT", Schema.string(), _fingerprint_sql),
        ExtFn(
            "CHUNK",
            Schema.array(Schema.string()),
            _chunk_sql,
            groupable=False,  # array-typed result is not a valid group key
        ),
        ExtFn(
            "SPLIT",
            Schema.string(),
            _split_sql,
            # an id can be numeric or string — the draw casts to string
            arg_kinds=("string", "number"),
        ),
        ExtFn("REDACT", Schema.string(), _redact_sql),
        ExtFn("HTMLTEXT", Schema.string(), _htmltext_sql),
        ExtFn(
            "VECTORIZE",
            # dense dim-16 hashing-trick vector (signed token counts) —
            # operators/vectorize.vectorize_sql; the Python operator
            # feature_hash_embed takes dim/normalize as parameters
            Schema.array(Schema.number()),
            _vectorize_sql,
            groupable=False,  # array-typed result is not a valid group key
        ),
        ExtFn(
            "QUALITY_SCORE",
            # integer linear-model margin over hashed features (keep ≡
            # margin ≥ 0) — operators/vectorize.hash_margin_sql; a
            # LEARNED model goes through linear_hash_score
            Schema.number(),
            _quality_score_sql,
        ),
        ExtFn(
            "IMAGE_DHASH",
            # signed-64-bit perceptual hash of a binary image payload
            # (operators/multimodal._make_payload_dhash: codec sniffed
            # from magic bytes — netpbm/PNG/baseline-JPEG; poison/unknown
            # → NULL). Binary columns surface as "string" in the 4-type
            # dialect model (schema.schema_from_struct), hence the
            # default arg kind. Groupable: GROUP BY IMAGE_DHASH(payload)
            # is the perceptual exact-dedup move.
            Schema.number(),
            _image_dhash_sql,
            udf=_image_dhash_udf,
        ),
        ExtFn(
            "GOPHER",
            # combined Gopher rule-set pass/fail at the paper's default
            # thresholds (operators/text_analysis.gopher_pass_sql) — a
            # boolean scalar, so it composes as `WHERE GOPHER(text) =
            # true` (the bare-predicate form stays boolean-FIELD-only)
            # and as a GROUP BY key for pass/fail corpus splits; the
            # per-rule audit columns go through gopher_quality_flags
            Schema.boolean(),
            _gopher_sql,
        ),
        ExtFn(
            "C4PASS",
            # C4 page-level pass/fail (Raffel et al. 2020 §2.2 line +
            # page rules at the module defaults —
            # operators/text_cleaning.c4_pass_sql): boolean scalar, so
            # it composes as a WHERE operand and a GROUP BY key exactly
            # like GOPHER; the per-line audit path is c4_line_filter
            Schema.boolean(),
            _c4pass_sql,
        ),
        ExtFn(
            "MINHASH",
            # full 16-lane MinHash signature of the normalized,
            # 3-word-shingled text as ONE ':'-joined hex string
            # (functions/hashing.minhash_hexsig_sql — the same lanes the
            # operators/dedup b=8,r=2 LSH family reads, bit-identical).
            # A string scalar, so it GROUPS: `SELECT MIN(doc_id) AS keep
            # GROUP BY MINHASH(text)` is signature-exact near-dup
            # collapse (whitespace/case variants share signatures via
            # normalize-first shingling); blank/NULL text → NULL, never
            # a shared constant. Banded LSH with recall control stays in
            # operators/dedup.minhash_candidate_pairs.
            Schema.string(),
            _minhash_sql,
        ),
        ExtFn(
            "SIMHASH",
            # 64-bit SimHash of the normalized word tokens as ONE
            # 16-hex-digit string (functions/hashing.simhash_hex_sql — the
            # same xxhash64-per-token sign rule the operators/dedup
            # simhash family computes, bit-identical). A string scalar,
            # so it GROUPS: `GROUP BY SIMHASH(text)` is the hamming-0
            # tier of simhash near-dup collapse (MINHASH's recipe under
            # simhash semantics — robust to word REORDERING, which
            # changes every MinHash shingle but no SimHash token).
            # Blank/NULL text → NULL, never a shared constant. Banded
            # hamming>0 blocking stays in
            # operators/dedup.simhash_candidate_pairs.
            Schema.string(),
            _simhash_sql,
        ),
        ExtFn(
            "NFC",
            # Unicode NFC canonicalization (the dedup-key prerequisite:
            # composed vs decomposed sequences must share fingerprints).
            # A string scalar, so `GROUP BY NFC(text)` and WHERE
            # composition work; pandas_udf exception #2 (see _nfc_udf).
            # NFKC/NFD/NFKD stay in operators/text_cleaning.
            Schema.string(),
            _nfc_sql,
            udf=_nfc_udf,
        ),
        ExtFn(
            "BM25",
            # Okapi BM25 score of the document against the FROZEN query
            # BM25_QUERY with frozen index statistics (idf per term,
            # avgdl) — see the constants' comment for the deployed-
            # ranker rationale; corpus-relative scoring with live
            # df/avgdl is operators/text_analysis.bm25_topk. A number
            # scalar: `SELECT doc_id WHERE BM25(text) > 2.0` is the
            # relevance screen, GROUP BY BM25(text) the score-profile
            # rollup. tf is the exact normalized-token count, so blank
            # text scores 0.0 and NULL text stays NULL. Rounded to 6
            # decimals (the suite's float convention), in one pinned
            # association order.
            Schema.number(),
            _bm25_sql,
        ),
        ExtFn(
            "JL_PROJECT",
            # 64→16-dim ±1 random projection of a float embedding array
            # (operators/vectorize.jlproject_dialect_sql; quantize + project in
            # one scan-stage expression whose sign matrix is COMPUTED
            # from (i, j), not a literal). The only ExtFn taking an
            # ARRAY argument; array-typed result, so not groupable.
            Schema.array(Schema.number()),
            _jlproject_sql,
            groupable=False,
            arg_kinds=("array",),
        ),
        ExtFn(
            "PQ_ENCODE",
            # product-quantization code of a float embedding against the
            # FROZEN one-hot codebook (operators/vectorize.pq_code_expr;
            # m=4 subspaces x k=16 centers over the 64-dim input) as ONE
            # ':'-joined string — the compressed-retrieval tier's SQL
            # surface (r13, VERDICT r12 #6). A string scalar, so it
            # GROUPS: `SELECT MIN(vec_id) AS keep GROUP BY
            # PQ_ENCODE(embedding)` collapses a quantization cell —
            # compressed-domain dedup, the MINHASH recipe over vectors.
            # Wrong-length / null-element vectors -> NULL, never a
            # shared constant. Trained codebooks, ADC ranking and the
            # at-rest layout stay in operators/similarity (pq_codebooks,
            # pq_topk[_batch], write_ivf_pq_partitioned).
            Schema.string(),
            _pq_encode_sql,
            arg_kinds=("array",),
        ),
        ExtFn(
            "TUMBLE",
            Schema.number(),
            _tumble_sql,
            # timestamps surface as "string" in the 4-type dialect model
            # (schema.schema_from_struct); numeric epochs are excluded on
            # purpose — seconds-vs-micros would be a silent unit ambiguity
        ),
        ExtFn(
            "SESSIONIZE",
            Schema.number(),
            _sessionize_final_sql,
            groupable=False,  # window-backed — no scan-stage group key
            analytic=True,
            stages_sql=(("new_s", _sessionize_new_flag_sql),),
            requires=(SESSIONIZE_KEY, SESSIONIZE_TIEBREAK),
        ),
    )
}
