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

Extension functions are projection-mode scalars (per row, scan-stage Column
expressions — never Python UDFs, with ONE documented exception: IMAGE_DHASH
is an Arrow-vectorized pandas_udf, because a binary image decode is not
expressible as a Column tree; it is still scan-stage and batch-transferred,
never row-at-a-time; NFC shares the exception for codepoint
recomposition). They are rejected inside grouped SELECT lists, and
every one except CHUNK (whose result is an array) can serve as a GROUP BY
key. Both backends stay in lock-step: `column` builds the planner's Column,
`sql` renders the identical expression for the Spark-SQL emitter, and
backend-equivalence tests compare the two on real data. The SQL emitter's
IMAGE_DHASH rendering references the session function `ifrit_image_dhash`
— call `register_sql_functions(spark)` before executing emitted SQL that
uses it (the DataFrame backend needs no registration).

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
                                           -- exception #2 — SQL backend
                                           -- needs register_sql_functions)
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
one expression, so analytic fns declare `stages`: intermediate columns the
planner materializes as extra projections before the final select; the SQL
backend renders them as one extra subquery level. Like SPLIT/CHUNK, the
one-argument grammar fixes the geometry: partition key `user_id`, tiebreak
`event_id` (both must exist in the queried document — analyzer-checked via
`requires`), gap 30 minutes. The Python API (operators/windows.sessionize)
takes all of these as parameters.

Caveat (documented in DIALECT.md): these uppercase names become function
tokens, so a *field* literally named TOKEN_COUNT/QUALITY/LANG_ID/
FINGERPRINT/CHUNK can no longer be selected bare — same shadowing rule the
reference applies to AVG..SUM.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from typing import TYPE_CHECKING, Callable, Dict

from purescript_ifrit_spark.schema import Schema

if TYPE_CHECKING:
    from pyspark.sql import Column

# Importing this module runs no pyspark import: the parser and analyzer
# read EXT_FUNCTIONS' names and metadata on the compile path. Builders and
# renderers import functions/text (and Spark) when they are called.

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
    from purescript_ifrit_spark.functions import text as X

    # integer micro-unit arithmetic, in lock-step with functions/text.quality
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
    # same generator as the Column backend — editing DEFAULT_STOPWORDS
    # changes BOTH backends (a hard-coded twin here would silently diverge)
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
    from purescript_ifrit_spark.functions import text as X

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


def _text_column(name: str, c: Column, **kwargs) -> Column:
    """functions/text.<name>(c, **kwargs), importing that module (and Spark)
    only when a plan is built."""
    from purescript_ifrit_spark.functions import text as X

    return getattr(X, name)(c, **kwargs)


# fixed split geometry of the dialect SPLIT function (the one-argument fn
# grammar has no room for parameters; the Python API takes weights/salt)
SPLIT_WEIGHTS = (("train", 0.98), ("val", 0.01), ("test", 0.01))
SPLIT_SALT = "v1"


def _split_column(c: Column) -> Column:
    from purescript_ifrit_spark.operators.sampling import split_expr

    return split_expr(c, SPLIT_WEIGHTS, SPLIT_SALT)


def _split_sql(x: str) -> str:
    from purescript_ifrit_spark.operators.sampling import hash_split_sql

    # CAST keeps numeric ids lock-step with the Column backend's cast
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


def _redact_column(c: Column) -> Column:
    from purescript_ifrit_spark.operators.text_cleaning import redact_expr

    return redact_expr(c)


def _redact_sql(x: str) -> str:
    from purescript_ifrit_spark.operators.text_cleaning import redact_sql

    return redact_sql(x)


def _vectorize_column(c: Column) -> Column:
    from purescript_ifrit_spark.operators.vectorize import vectorize_expr

    return vectorize_expr(c)


def _vectorize_sql(x: str) -> str:
    from purescript_ifrit_spark.operators.vectorize import vectorize_sql

    return vectorize_sql(x)


def _quality_score_column(c: Column) -> Column:
    from purescript_ifrit_spark.operators.vectorize import hash_margin_expr

    return hash_margin_expr(c)


def _quality_score_sql(x: str) -> str:
    from purescript_ifrit_spark.operators.vectorize import hash_margin_sql

    return hash_margin_sql(x)


def _gopher_column(c: Column) -> Column:
    from purescript_ifrit_spark.operators.text_analysis import (
        gopher_pass_expr,
    )

    return gopher_pass_expr(c)


def _gopher_sql(x: str) -> str:
    from purescript_ifrit_spark.operators.text_analysis import (
        gopher_pass_sql,
    )

    return gopher_pass_sql(x)


def _c4pass_column(c: Column) -> Column:
    from purescript_ifrit_spark.operators.text_cleaning import c4_pass_expr

    return c4_pass_expr(c)


def _c4pass_sql(x: str) -> str:
    from purescript_ifrit_spark.operators.text_cleaning import c4_pass_sql

    return c4_pass_sql(x)


def _minhash_column(c: Column) -> Column:
    from purescript_ifrit_spark.functions import hashing as H
    from purescript_ifrit_spark.functions import text as X

    return H.minhash_hexsig(X.word_shingles(c, 3), 16)


def _minhash_sql(x: str) -> str:
    from purescript_ifrit_spark.functions import hashing as H

    return H.minhash_hexsig_sql(x, 16, 3)


def _simhash_column(c: Column) -> Column:
    from purescript_ifrit_spark.functions import hashing as H

    return H.simhash_hex(c, 64)


def _simhash_sql(x: str) -> str:
    from purescript_ifrit_spark.functions import hashing as H

    return H.simhash_hex_sql(x, 64)


# Frozen BM25 model (VERDICT r8 #6). The one-argument fn grammar has no
# room for a query or corpus statistics, so — exactly like QUALITY_SCORE's
# frozen linear model — the dialect BM25 scores against a PINNED query
# with PINNED index statistics (the deployed-ranker convention: a serving
# index's idf/avgdl are frozen snapshots, not live corpus aggregates).
# Corpus-RELATIVE BM25 (df/avgdl computed from the queried corpus, top-k)
# stays in operators/text_analysis.bm25_topk. Every constant is an
# exactly-representable double and both backends evaluate the identical
# association order, so the scores are bit-equal cross-backend.
BM25_K1 = 1.25
BM25_B = 0.75
BM25_AVGDL = 128.0
BM25_QUERY = (("spark", 2.5), ("join", 1.5), ("merge", 0.75))


def _bm25_column(c: Column) -> Column:
    # Term frequency WITHOUT a higher-order function: HOF lambdas run
    # interpreted and break the projection out of whole-stage codegen,
    # so tf is counted with pure string ops instead — double every
    # separator space and pad the ends, and ' term ' occurrences can
    # never overlap, making replace-then-length-diff an exact
    # non-overlapping token count. Blank text counts 0 (pad of '' is
    # '  '), NULL text propagates NULL.
    from pyspark.sql import functions as F

    from purescript_ifrit_spark.functions import text as X

    n = X.normalize_text(c)
    pad = F.concat(F.lit(" "), F.replace(n, F.lit(" "), F.lit("  ")), F.lit(" "))
    dl = X.token_count(c).cast("double")
    # length-normalization load: (1-b) + b * (dl / avgdl), division first
    load = F.lit(1.0 - BM25_B) + (F.lit(BM25_B) * (dl / F.lit(BM25_AVGDL)))
    score = None
    for term, idf in BM25_QUERY:
        m = float(len(term) + 2)
        tf = (
            F.length(pad)
            - F.length(F.replace(pad, F.lit(f" {term} "), F.lit("")))
        ).cast("double") / F.lit(m)
        contrib = F.lit(idf) * (
            (tf * F.lit(BM25_K1 + 1.0)) / (tf + (F.lit(BM25_K1) * load))
        )
        # left-associated sum in query order — the SQL twin renders the
        # same tree, so the float result is bit-identical
        score = contrib if score is None else score + contrib
    return F.round(score, 6)


def _bm25_sql(x: str) -> str:
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


def _jlproject_column(c: Column) -> Column:
    from purescript_ifrit_spark.operators.vectorize import jlproject_expr

    return jlproject_expr(c)


def _jlproject_sql(x: str) -> str:
    from purescript_ifrit_spark.operators.vectorize import (
        jlproject_dialect_sql,
    )

    return jlproject_dialect_sql(x)


def _pq_encode_column(c: Column) -> Column:
    from purescript_ifrit_spark.operators.vectorize import pq_code_expr

    return pq_code_expr(c)


def _pq_encode_sql(x: str) -> str:
    from purescript_ifrit_spark.operators.vectorize import (
        pq_code_dialect_sql,
    )

    return pq_code_dialect_sql(x)


def _htmltext_column(c: Column) -> Column:
    from purescript_ifrit_spark.operators.text_cleaning import html_text_expr

    return html_text_expr(c)


def _htmltext_sql(x: str) -> str:
    from purescript_ifrit_spark.operators.text_cleaning import html_text_sql

    return html_text_sql(x)


# fixed temporal geometry (the one-argument fn grammar has no room for
# parameters; operators/windows.py + operators/temporal.py take them)
TUMBLE_UNIT_US = 3_600_000_000  # hour
SESSIONIZE_KEY = "user_id"
SESSIONIZE_TIEBREAK = "event_id"
SESSIONIZE_GAP_MIN = 30


def _tumble_column(c: Column) -> Column:
    # hour-start epoch SECONDS: compact, and exactly representable in the
    # dialect's double-typed numbers forever (epoch MICROS ~1.7e15 today
    # would also fit 2^53, but only until ~2255 — and hour buckets don't
    # need sub-second resolution anyway). Pure epoch arithmetic —
    # date_trunc would bucket in the session's local timezone.
    # cast("timestamp") is a no-op on TimestampType and makes NTZ inputs
    # legal under the engine's UTC session contract (sources/tables.py).
    from pyspark.sql import functions as F

    return F.floor(
        F.unix_micros(c.cast("timestamp")) / F.lit(TUMBLE_UNIT_US)
    ) * F.lit(TUMBLE_UNIT_US // 1_000_000)


def _tumble_sql(x: str) -> str:
    return (
        f"(floor(unix_micros(CAST({x} AS TIMESTAMP)) / {TUMBLE_UNIT_US}) "
        f"* {TUMBLE_UNIT_US // 1_000_000})"
    )


def _session_order(c: Column):
    from pyspark.sql import functions as F

    return [c.cast("timestamp").asc(), F.col(SESSIONIZE_TIEBREAK).asc()]


def _sessionize_new_flag(c: Column) -> Column:
    # stage column: 1 when this row starts a new session (first event of
    # the key, or gap to the previous event exceeds the threshold)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(SESSIONIZE_KEY).orderBy(*_session_order(c))
    prev = F.lag(c.cast("timestamp")).over(w)
    gap = F.lit(SESSIONIZE_GAP_MIN * 60 * 1_000_000)
    return (
        prev.isNull()
        | ((F.unix_micros(c.cast("timestamp")) - F.unix_micros(prev)) > gap)
    ).cast("int")


def _sessionize_final(c: Column, staged: Dict[str, Column]) -> Column:
    # running sum of new-session flags = 1-based session id; same window
    # spec as the stage, so the physical plan is ONE shuffle + one sort
    # feeding two chained Window operators
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy(SESSIONIZE_KEY)
        .orderBy(*_session_order(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return F.sum(staged["new_s"]).over(w)


def _sessionize_window_sql(x: str) -> str:
    return (
        f"PARTITION BY `{SESSIONIZE_KEY}` "
        f"ORDER BY CAST({x} AS TIMESTAMP), `{SESSIONIZE_TIEBREAK}`"
    )


def _sessionize_new_flag_sql(x: str) -> str:
    w = _sessionize_window_sql(x)
    ts = f"unix_micros(CAST({x} AS TIMESTAMP))"
    prev = f"unix_micros(lag(CAST({x} AS TIMESTAMP)) OVER ({w}))"
    gap = SESSIONIZE_GAP_MIN * 60 * 1_000_000
    return (
        f"CASE WHEN lag(CAST({x} AS TIMESTAMP)) OVER ({w}) IS NULL "
        f"OR {ts} - {prev} > {gap} THEN 1 ELSE 0 END"
    )


def _sessionize_final_sql(x: str, staged: Dict[str, str]) -> str:
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


def _image_dhash_column(c: Column) -> Column:
    return _image_dhash_udf()(c)


def _image_dhash_sql(x: str) -> str:
    # the one emitted expression that is not pure built-in SQL: it names
    # the session UDF register_sql_functions() installs
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


def _nfc_column(c: Column) -> Column:
    return _nfc_udf()(c)


def _nfc_sql(x: str) -> str:
    # names the session UDF register_sql_functions() installs (the
    # IMAGE_DHASH convention)
    return f"ifrit_nfc({x})"


def register_sql_functions(spark) -> None:
    """Install the session UDFs the Spark-SQL backend's emitted text can
    reference (`ifrit_image_dhash` for IMAGE_DHASH, `ifrit_nfc` for
    NFC). Required only before spark.sql() on emitted queries that use
    them; the DataFrame backend resolves everything in-process."""
    spark.udf.register("ifrit_image_dhash", _image_dhash_udf())
    spark.udf.register("ifrit_nfc", _nfc_udf())


@dataclass(frozen=True)
class ExtFn:
    """One dialect extension function: name, result schema, and the two
    lock-step backends (Column builder / Spark-SQL renderer).

    Scalars: `column(arg) -> Column`, `sql(x) -> str`.

    Analytic fns (`analytic=True`): window-backed, projection-mode only
    (never WHERE / GROUP BY / grouped SELECT). `stages` lists intermediate
    columns ((name, builder(arg) -> Column), ...) the planner materializes
    before the final projection (Spark rejects window-inside-window in one
    expression); `stages_sql` is the SQL twin; `column(arg, staged) ->
    Column` / `sql(x, staged) -> str` then reference them. `requires`
    names document fields the fixed window geometry reads (partition key,
    tiebreak) — the analyzer checks they exist."""

    name: str
    result: Schema
    column: Callable[..., Column]
    sql: Callable[..., str]
    groupable: bool = True  # usable as a GROUP BY key (primitives only)
    arg_kinds: tuple = ("string",)  # accepted argument schema kinds
    analytic: bool = False
    stages: tuple = ()  # ((stage_name, builder(arg)->Column), ...)
    stages_sql: tuple = ()  # ((stage_name, renderer(x)->str), ...)
    requires: tuple = ()  # document fields the window geometry reads


EXT_FUNCTIONS: Dict[str, ExtFn] = {
    fn.name: fn
    for fn in (
        ExtFn(
            "TOKEN_COUNT",
            Schema.number(),
            partial(_text_column, "token_count"),
            _token_count_sql,
        ),
        ExtFn(
            "QUALITY", Schema.number(), partial(_text_column, "quality"), _quality_sql
        ),
        ExtFn(
            "LANG_ID", Schema.string(), partial(_text_column, "lang_id"), _lang_id_sql
        ),
        ExtFn(
            "FINGERPRINT",
            Schema.string(),
            partial(_text_column, "fingerprint"),
            _fingerprint_sql,
        ),
        ExtFn(
            "CHUNK",
            Schema.array(Schema.string()),
            partial(
                _text_column, "chunk_array",
                chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP,
            ),
            _chunk_sql,
            groupable=False,  # array-typed result is not a valid group key
        ),
        ExtFn(
            "SPLIT",
            Schema.string(),
            _split_column,
            _split_sql,
            # an id can be numeric or string — the draw casts to string
            arg_kinds=("string", "number"),
        ),
        ExtFn("REDACT", Schema.string(), _redact_column, _redact_sql),
        ExtFn("HTMLTEXT", Schema.string(), _htmltext_column, _htmltext_sql),
        ExtFn(
            "VECTORIZE",
            # dense dim-16 hashing-trick vector (signed token counts) —
            # operators/vectorize.vectorize_expr; the Python operator
            # feature_hash_embed takes dim/normalize as parameters
            Schema.array(Schema.number()),
            _vectorize_column,
            _vectorize_sql,
            groupable=False,  # array-typed result is not a valid group key
        ),
        ExtFn(
            "QUALITY_SCORE",
            # integer linear-model margin over hashed features (keep ≡
            # margin ≥ 0) — operators/vectorize.hash_margin_expr; a
            # LEARNED model goes through linear_hash_score
            Schema.number(),
            _quality_score_column,
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
            _image_dhash_column,
            _image_dhash_sql,
        ),
        ExtFn(
            "GOPHER",
            # combined Gopher rule-set pass/fail at the paper's default
            # thresholds (operators/text_analysis.gopher_pass_expr) — a
            # boolean scalar, so it composes as `WHERE GOPHER(text) =
            # true` (the bare-predicate form stays boolean-FIELD-only)
            # and as a GROUP BY key for pass/fail corpus splits; the
            # per-rule audit columns go through gopher_quality_flags
            Schema.boolean(),
            _gopher_column,
            _gopher_sql,
        ),
        ExtFn(
            "C4PASS",
            # C4 page-level pass/fail (Raffel et al. 2020 §2.2 line +
            # page rules at the module defaults —
            # operators/text_cleaning.c4_pass_expr): boolean scalar, so
            # it composes as a WHERE operand and a GROUP BY key exactly
            # like GOPHER; the per-line audit path is c4_line_filter
            Schema.boolean(),
            _c4pass_column,
            _c4pass_sql,
        ),
        ExtFn(
            "MINHASH",
            # full 16-lane MinHash signature of the normalized,
            # 3-word-shingled text as ONE ':'-joined hex string
            # (functions/hashing.minhash_hexsig — the same lanes the
            # operators/dedup b=8,r=2 LSH family reads, bit-identical).
            # A string scalar, so it GROUPS: `SELECT MIN(doc_id) AS keep
            # GROUP BY MINHASH(text)` is signature-exact near-dup
            # collapse (whitespace/case variants share signatures via
            # normalize-first shingling); blank/NULL text → NULL, never
            # a shared constant. Banded LSH with recall control stays in
            # operators/dedup.minhash_candidate_pairs.
            Schema.string(),
            _minhash_column,
            _minhash_sql,
        ),
        ExtFn(
            "SIMHASH",
            # 64-bit SimHash of the normalized word tokens as ONE
            # 16-hex-digit string (functions/hashing.simhash_hex — the
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
            _simhash_column,
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
            _nfc_column,
            _nfc_sql,
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
            # decimals (the suite's float convention); both backends
            # evaluate one pinned association order.
            Schema.number(),
            _bm25_column,
            _bm25_sql,
        ),
        ExtFn(
            "JL_PROJECT",
            # 64→16-dim ±1 random projection of a float embedding array
            # (operators/vectorize.jlproject_expr; quantize + project in
            # one scan-stage expression whose sign matrix is COMPUTED
            # from (i, j), not a literal). The only ExtFn taking an
            # ARRAY argument; array-typed result, so not groupable.
            Schema.array(Schema.number()),
            _jlproject_column,
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
            _pq_encode_column,
            _pq_encode_sql,
            arg_kinds=("array",),
        ),
        ExtFn(
            "TUMBLE",
            Schema.number(),
            _tumble_column,
            _tumble_sql,
            # timestamps surface as "string" in the 4-type dialect model
            # (schema.schema_from_struct); numeric epochs are excluded on
            # purpose — seconds-vs-micros would be a silent unit ambiguity
        ),
        ExtFn(
            "SESSIONIZE",
            Schema.number(),
            _sessionize_final,
            _sessionize_final_sql,
            groupable=False,  # window-backed — no scan-stage group key
            analytic=True,
            stages=(("new_s", _sessionize_new_flag),),
            stages_sql=(("new_s", _sessionize_new_flag_sql),),
            requires=(SESSIONIZE_KEY, SESSIONIZE_TIEBREAK),
        ),
    )
}
