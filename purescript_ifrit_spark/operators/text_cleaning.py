"""PII redaction and boilerplate stripping — the text-cleaning stage of a
training-data pipeline (SURVEY.md §2.7 family; no reference counterpart).

Everything here is a scan-stage Column expression over built-in regex
functions: zero shuffle, zero Python, whole-stage-codegen'd, so the cost at
100 TB is exactly one pass over the text bytes.

Regex portability: every pattern uses only the syntax subset shared by
Java regex (Spark executors) and RE2 (the DuckDB oracle): character
classes, \\d/\\s/\\S, bounded/unbounded repetition, (?i) — no lookahead,
no backreferences. That is what lets the driver verify redaction
byte-for-byte across engines.

Redaction kinds apply IN ORDER (URL → email → phone), each pattern running
over the previous stage's output: a URL containing an @ is consumed by the
URL stage and can no longer half-match as an email. Counts are per-stage
for the same reason — this is the contract the oracle mirrors stage by
stage.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the pattern tables, thresholds and SQL renderings are Spark-free
# (functions/text_sql.py); re-exported here for the operator-layer API
from purescript_ifrit_spark.functions.text_sql import (  # noqa: F401
    C4_MIN_KEPT_LINES,
    C4_MIN_WORDS_PER_LINE,
    C4_TERMINAL_RX,
    HTML_ENTITIES,
    HTML_STAGES,
    PII_PATTERNS,
    c4_pass_sql,
    html_text_spark_sql,
    redact_sql,
)


# line-level boilerplate markers (case-insensitive, unanchored)
BOILERPLATE_RX = (
    r"(?i)(all rights reserved|cookie policy|privacy policy"
    r"|terms of service|subscribe to our newsletter)"
)


def redact_expr(c: Column) -> Column:
    """The redaction chain as a pure Column expression (no counts) — the
    backend of the dialect REDACT function and of `redact_pii`."""
    for _, rx, tok in PII_PATTERNS:
        c = F.regexp_replace(c, rx, tok)
    return c


def redact_pii(
    df: DataFrame,
    text_col: str,
    kinds: Optional[Sequence[str]] = None,
    out_col: Optional[str] = None,
    count_cols: bool = True,
) -> DataFrame:
    """Replace URLs, emails and phone numbers with typed placeholder
    tokens. `kinds` restricts/reorders which patterns run (default: all,
    in PII_PATTERNS order). With `count_cols`, a `n_<kind>` column records
    how many redactions each stage made (counted on that stage's input —
    the number of replacements actually performed)."""
    by_kind = {k: (k, rx, tok) for k, rx, tok in PII_PATTERNS}
    if kinds is None:
        chosen = list(PII_PATTERNS)
    else:
        unknown = set(kinds) - set(by_kind)
        if unknown:
            raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
        # caller order is the application order (the docstring contract)
        chosen = [by_kind[k] for k in kinds]
    out_col = out_col or text_col
    cur: Column = F.col(text_col)
    for k, rx, tok in chosen:
        if count_cols:
            df = df.withColumn(f"n_{k}", F.regexp_count(cur, F.lit(rx)))
        df = df.withColumn(out_col, F.regexp_replace(cur, rx, tok))
        cur = F.col(out_col)
    if not chosen and out_col != text_col:
        df = df.withColumn(out_col, cur)
    return df


def strip_boilerplate(
    df: DataFrame,
    text_col: str,
    out_col: Optional[str] = None,
    line_rx: str = BOILERPLATE_RX,
) -> DataFrame:
    """Drop every line matching `line_rx` (unanchored, case-insensitive by
    default) and rejoin the survivors — the standard line-level boilerplate
    filter. Higher-order array functions only; no UDF, no explode/shuffle."""
    out_col = out_col or text_col
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, lambda x: ~x.rlike(line_rx))
    return df.withColumn(out_col, F.array_join(kept, "\n"))


def clean_text(
    df: DataFrame,
    text_col: str,
    out_col: Optional[str] = None,
) -> DataFrame:
    """The composed cleaning stage: strip boilerplate lines, then redact
    PII (with per-kind counts). One codegen'd projection end to end."""
    out_col = out_col or text_col
    df = strip_boilerplate(df, text_col, out_col=out_col)
    return redact_pii(df, out_col)


def html_text_expr(c: Column) -> Column:
    """Visible text of an HTML column as one codegen'd projection: drop
    script/style/comment blocks, turn block boundaries into newlines,
    strip tags, decode common entities, collapse horizontal whitespace.
    Scan-stage — the web-corpus ingest step costs one pass over the
    bytes, like every other cleaning stage in this module."""
    out = c
    for rx, repl in HTML_STAGES:
        out = F.regexp_replace(out, rx, repl)
    for ent, repl in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(repl))
    # collapse runs of spaces/tabs but KEEP newlines (line structure feeds
    # strip_boilerplate); then trim each line's edges via split/join
    out = F.regexp_replace(out, r"[ \t\r]+", " ")
    lines = F.split(out, "\n")
    trimmed = F.filter(
        F.transform(lines, lambda x: F.trim(x)), lambda x: x != ""
    )
    return F.array_join(trimmed, "\n")


def html_text_sql(x: str) -> str:
    """DuckDB twin of `html_text_expr` (same stages, same order).

    DuckDB standard strings do NOT process backslash escapes, so regex
    patterns embed verbatim (the backslash reaches RE2, which is what we
    want) and a literal newline replacement must be the chr(10)
    EXPRESSION, not an '\\n' literal."""
    out = x
    for rx, repl in HTML_STAGES:
        rx_sql = rx.replace("'", "''")
        repl_sql = "chr(10)" if repl == "\n" else "'" + repl.replace("'", "''") + "'"
        out = f"regexp_replace({out}, '{rx_sql}', {repl_sql}, 'g')"
    for ent, repl in HTML_ENTITIES:
        repl_sql = repl.replace("'", "''")
        out = f"replace({out}, '{ent}', '{repl_sql}')"
    out = f"regexp_replace({out}, '[ \\t\\r]+', ' ', 'g')"
    # COALESCE: DuckDB's array_to_string of an empty list is NULL where
    # Spark's array_join is '' — fold to the Spark behavior
    return (
        "COALESCE(array_to_string(list_filter(list_transform("
        f"string_split({out}, chr(10)), s -> trim(s)), s -> s <> ''), "
        "chr(10)), '')"
    )


def extract_html_text(
    df: DataFrame, html_col: str, out_col: str = "text"
) -> DataFrame:
    """Extract visible text from an HTML column (web-corpus ingest)."""
    return df.withColumn(out_col, html_text_expr(F.col(html_col)))


# ---------------------------------------------------------------------------
# corpus hygiene reports: URL domains, encoding quality
# ---------------------------------------------------------------------------

# URL shape shared with the redaction stage above; DOMAIN_RX captures the
# host (authority up to the first /, :, ?, # or whitespace) — both patterns
# stay inside the Java∩RE2 subset so DuckDB oracles recompute them verbatim
URL_RX = r"https?://\S+"
DOMAIN_RX = r"^https?://([^/\s:?#]+)"


def url_domain_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-domain URL statistics over a corpus — (domain, n_docs, n_urls),
    the report domain blocklists/allowlists are built from (the standard
    first step of web-corpus curation: rank domains by volume, eyeball the
    head, block the spam).

    Scale: URL extraction and host parsing are scan-stage regex; the only
    exchange is keyed by domain with map-side partials (n_docs is a
    two-stage distinct aggregate — (domain, doc) partial-distinct before
    the count, never a per-domain row buffer)."""
    urls = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_RX), 0)
        ).alias("_u"),
    )
    dom = urls.select(
        "_id",
        F.lower(F.regexp_extract(F.col("_u"), DOMAIN_RX, 1)).alias("domain"),
    ).filter(F.col("domain") != "")
    return dom.groupBy("domain").agg(
        F.countDistinct("_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_urls"),
    )


def encoding_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document encoding-damage screen: counts of U+FFFD replacement
    characters (the mojibake tombstone a lossy decode leaves behind),
    C0 control characters (excluding \\t \\n \\r), and non-ASCII
    codepoints, plus the non-ASCII ratio — the columns a curation
    pipeline filters or routes on before any language-level scoring.

    All counts are integers from one scan-stage pass (length/translate
    for the literal char, regexp_count for the classes); the single
    ratio is one IEEE division of exact integers, so every column is
    value-exact cross-engine."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_repl = n_chars - F.length(F.translate(t, "�", ""))
    n_ctrl = F.regexp_count(t, F.lit(r"[\x00-\x08\x0B\x0C\x0E-\x1F]"))
    n_non_ascii = F.regexp_count(t, F.lit(r"[^\x00-\x7F]"))
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_repl.cast("long").alias("n_replacement"),
        n_ctrl.cast("long").alias("n_control"),
        n_non_ascii.cast("long").alias("n_non_ascii"),
        F.when(n_chars > 0, n_non_ascii.cast("double") / n_chars.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("non_ascii_ratio"),
    )


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_nfc",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization of a text column — the canonicalization
    step that belongs BEFORE any fingerprint/dedup stage: visually
    identical strings with different codepoint sequences ("café"
    composed vs "cafe" + U+0301) would otherwise carry different
    md5/minhash keys and silently escape every dedup family.

    `form` is one of NFC/NFD/NFKC/NFKD (NFC is the storage-canonical
    choice; NFKC additionally folds compatibility characters — ligature
    ﬁ → fi, fullwidth digits — which is lossy and should be a deliberate
    corpus decision).

    100 TB design: Spark has no builtin normalizer, so this is the
    slow-path exception done the fast way — ONE Arrow-batched
    `pandas_udf` at scan stage, no shuffle, no join. Inside the batch,
    `str.isascii()` short-circuits: ASCII is closed under all four
    forms, so a mostly-ASCII corpus pays Arrow transfer only, and the
    C-level normalizer runs just on rows that can change. Cross-engine
    caveat recorded: Python's unicodedata and DuckDB's utf8proc may
    trail different Unicode versions; normalization of ASSIGNED
    codepoints is stabilized by the standard, so parity holds for any
    real-world text (the oracle pins composed accents; unassigned
    codepoints are out of contract)."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(
            f"form must be one of NFC/NFD/NFKC/NFKD (got {form!r})"
        )

    @F.pandas_udf("string")
    def _norm(s):
        # self-contained closure: imports inside, nothing from the repo
        import unicodedata

        def one(x):
            if x is None or x.isascii():
                return x
            return unicodedata.normalize(form, x)

        return s.map(one)

    return df.withColumn(out_col, _norm(F.col(text_col)))


# Java-regex ∩ RE2 (the url_domain_stats convention): inline (?i),
# anchored groups, no backreferences — both engines read these verbatim.
CANON_URL_RX = r"(?i)^(https?)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"
TRACKING_PARAM_RX = r"^(utm_[^=]*|gclid|fbclid|msclkid|ref)(=|$)"


def canonicalize_url_expr(c: Column) -> Column:
    """Canonical form of an http(s) URL as ONE codegen'd projection —
    the crawl-dedup prerequisite: the same page arrives as
    `HTTP://Example.COM:80/a/?utm_source=x&b=2&a=1#top` and
    `http://example.com/a?a=1&b=2`, and URL-keyed dedup/frontier logic
    only works if both map to one key.

    Rules (deterministic, mirrored verbatim by canonicalize_url_sql):
    scheme+host lowercased; default port stripped (:80 http, :443
    https — :8080 kept); trailing path slashes stripped (bare root
    stays "/"); fragment dropped; query params split, tracking params
    (utm_*/gclid/fbclid/msclkid/ref) and empties dropped, the rest
    SORTED and rejoined (param order never survives proxies); NULL for
    anything that is not an http(s) URL. Scan-stage, zero UDFs."""
    scheme = F.lower(F.regexp_extract(c, CANON_URL_RX, 1))
    rawhost = F.lower(F.regexp_extract(c, CANON_URL_RX, 2))
    host = F.when(
        scheme == "http", F.regexp_replace(rawhost, ":80$", "")
    ).otherwise(F.regexp_replace(rawhost, ":443$", ""))
    path = F.regexp_replace(F.regexp_extract(c, CANON_URL_RX, 3), "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    params = F.array_sort(
        F.filter(
            F.split(F.regexp_extract(c, CANON_URL_RX, 4), "&"),
            lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RX),
        )
    )
    q = F.array_join(params, "&")
    out = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return F.when(scheme != "", out)


def canonicalize_url_sql(x: str) -> str:
    """DuckDB twin of `canonicalize_url_expr` (same regexes, same rule
    order; see html_text_sql for the twin-builder convention)."""
    rx = CANON_URL_RX.replace("'", "''")
    trx = TRACKING_PARAM_RX.replace("'", "''")
    scheme = f"lower(regexp_extract({x}, '{rx}', 1))"
    rawhost = f"lower(regexp_extract({x}, '{rx}', 2))"
    host = (
        f"CASE WHEN {scheme} = 'http' THEN "
        f"regexp_replace({rawhost}, ':80$', '') "
        f"ELSE regexp_replace({rawhost}, ':443$', '') END"
    )
    path = f"regexp_replace(regexp_extract({x}, '{rx}', 3), '/+$', '')"
    path = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    q = (
        "array_to_string(list_sort(list_filter(string_split("
        f"regexp_extract({x}, '{rx}', 4), '&'), "
        f"y -> y <> '' AND NOT regexp_matches(y, '{trx}'))), '&')"
    )
    # array_to_string of an empty list is NULL in DuckDB — COALESCE to
    # the Spark '' so the ?-suffix CASE agrees
    q = f"COALESCE({q}, '')"
    return (
        f"CASE WHEN {scheme} <> '' THEN "
        f"{scheme} || '://' || {host} || {path} || "
        f"CASE WHEN {q} <> '' THEN '?' || {q} ELSE '' END "
        "ELSE NULL END"
    )


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "url_canon"
) -> DataFrame:
    """Add the canonical-URL column (see canonicalize_url_expr)."""
    return df.withColumn(out_col, canonicalize_url_expr(F.col(url_col)))


def repair_mojibake(
    df: DataFrame, text_col: str = "text", out_col: str = "text_fixed"
) -> DataFrame:
    """Repair double-encoded UTF-8 — the classic crawl defect where
    UTF-8 bytes were decoded as cp1252/latin-1 once too often and
    "café" ships as "cafÃ©". The fix is the inverse round-trip:
    re-encode through cp1252 (latin-1 fallback for the five bytes
    cp1252 leaves unmapped) and re-decode as UTF-8, applied ONLY when
    the full round-trip succeeds. Correctly-encoded non-ASCII text
    fails the UTF-8 re-decode by construction (a lone é is the byte
    0xE9 — not a valid UTF-8 sequence) and passes through untouched;
    pure ASCII short-circuits. One pass — triple-encoded text repairs
    one layer per call. Known heuristic edge (ftfy's too): genuine
    text that IS a valid mojibake image (a literal "Â¡") repairs to its
    pre-image.

    100 TB design: one Arrow-batched pandas_udf at scan stage — no
    shuffle, no join; the ASCII short-circuit makes the common case
    pure Arrow transfer."""

    @F.pandas_udf("string")
    def _fix(s):
        # self-contained closure (worker-side import only)
        def one(x):
            if x is None or x.isascii():
                return x
            try:
                b = x.encode("cp1252")
            except UnicodeEncodeError:
                try:
                    b = x.encode("latin-1")
                except UnicodeEncodeError:
                    return x
            try:
                return b.decode("utf-8")
            except UnicodeDecodeError:
                return x

        return s.map(one)

    return df.withColumn(out_col, _fix(F.col(text_col)))


def annotate_blocked_domains(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    pattern_col: str = "pattern",
) -> DataFrame:
    """Suffix-matching domain blocklist — the crawl-exclusion filter: a
    document is blocked iff its URL's domain equals a blocklist pattern
    or ends with '.' + pattern (pattern `spam.example` blocks
    `spam.example` and every subdomain, never `notspam.example`).

    Returns (id, domain, blocked). Non-URL / NULL urls get domain ''
    and blocked = false (filter them on the encoding screen, not the
    blocklist).

    100 TB design: the domain is scan-stage regex; each doc explodes to
    its label-suffix chain (≤ label count, ~4-6) and probes the
    BROADCAST blocklist with one equi-join — the corpus never shuffles
    and the match is hash lookup, not LIKE-scan over patterns (a
    pattern-side LIKE join is quadratic in patterns; the suffix-chain
    trick makes it O(labels) probes per doc, the standard
    reversed-domain trie flattened into rows)."""
    from purescript_ifrit_spark.functions.text import bind_once

    dom = F.lower(
        F.coalesce(F.regexp_extract(F.col(url_col), DOMAIN_RX, 1), F.lit(""))
    )
    sufs = bind_once(
        F.split(dom, r"\."),
        lambda parts: F.transform(
            F.sequence(F.lit(0), F.size(parts) - 1),
            lambda i: F.array_join(
                F.slice(parts, i + 1, F.size(parts) - i), "."
            ),
        ),
    )
    base = df.select(F.col(id_col), dom.alias("domain"), sufs.alias("_sufs"))
    probes = base.select(id_col, F.explode("_sufs").alias("_suf"))
    hits = (
        probes.join(
            F.broadcast(blocklist.select(F.col(pattern_col).alias("_suf"))),
            "_suf",
        )
        .select(id_col)
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        base.join(hits, id_col, "left")
        .select(
            id_col,
            "domain",
            F.coalesce(F.col("_hit"), F.lit(False)).alias("blocked"),
        )
    )


def filter_blocked_domains(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    pattern_col: str = "pattern",
) -> DataFrame:
    """Keep only documents whose domain survives the suffix blocklist
    (see annotate_blocked_domains)."""
    ann = annotate_blocked_domains(df, blocklist, url_col, id_col, pattern_col)
    keep = ann.filter(~F.col("blocked")).select(id_col)
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al. 2020, §2.2 "C4") — the
# canonical web-corpus line filter. Rule set (deterministic, mirrored by
# the suite oracle):
#   line level (each line TRIMMED first; kept lines are emitted trimmed):
#     - must end in a terminal punctuation mark  [.!?"]
#     - must contain at least `min_words_per_line` whitespace words
#     - must not contain the word "javascript" (case-insensitive)
#   page level (flags, not drops — callers filter on c4_pass):
#     - at least `min_kept_lines` surviving lines (the paper's >=3
#       sentences rule, applied at line granularity — documented deviation)
#     - must not contain "lorem ipsum" (case-insensitive)
#     - must not contain "{" (code marker)
#
# 100 TB design: pure higher-order array functions over split lines —
# zero shuffle, zero Python, one whole-stage-codegen'd pass over the
# text bytes, exactly like the redaction chain above.


def _c4_keep_line(x: Column, min_words: int) -> Column:
    wc = F.size(F.filter(F.split(x, " "), lambda w: w != ""))
    return (
        x.rlike(C4_TERMINAL_RX)
        & (wc >= min_words)
        & ~F.lower(x).contains("javascript")
    )


def c4_kept_expr(
    c: Column, min_words: int = C4_MIN_WORDS_PER_LINE
) -> Column:
    """The surviving (trimmed) lines of a text value under the C4 line
    rules, as an array<string> Column — the kernel of c4_line_filter
    (c4_pass_sql renders the same rules for the dialect C4PASS)."""
    # NOT `F.transform(..., F.trim)`: transform inspects callable arity and
    # trim's optional second parameter makes it call trim(x, index) — which
    # strips index DIGITS, not whitespace.
    # Universal line terminators (the markdown_sections precedent): a
    # \n-only split leaves a trailing \r on CRLF corpora that F.trim
    # (spaces only) keeps — Java's `$` still matches before it while the
    # RE2/DuckDB twins' `$` does not, so the engines would disagree on
    # every \r\n document.
    lines = F.transform(F.split(c, "\r\n|\r|\n"), lambda x: F.trim(x))
    return F.filter(lines, lambda x: _c4_keep_line(x, min_words))


def c4_line_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words_per_line: int = C4_MIN_WORDS_PER_LINE,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
    out_col: str = "text_c4",
) -> DataFrame:
    """Apply the C4 line rules; adds `out_col` (kept lines re-joined with
    \\n), n_lines / n_kept counts, and the page-level `c4_pass` flag.

    The page-level rules FLAG rather than drop so the operator stays a
    pure projection (callers filter on c4_pass); empty and NULL
    documents yield out_col = '' and c4_pass = false (NULL coalesces to
    '' so poison rows keep well-typed counts/flags instead of NULLing
    through every rule)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.transform(F.split(c, "\r\n|\r|\n"), lambda x: F.trim(x))
    kept = c4_kept_expr(c, min_words_per_line)
    low = F.lower(c)
    return (
        df.withColumn("_lines", lines)
        .withColumn("_kept", kept)
        .select(
            "*",
            F.size(F.col("_lines")).alias("n_lines"),
            F.size(F.col("_kept")).alias("n_kept"),
            F.array_join(F.col("_kept"), "\n").alias(out_col),
            (
                (F.size(F.col("_kept")) >= min_kept_lines)
                & ~low.contains("lorem ipsum")
                & ~c.contains("{")
            ).alias("c4_pass"),
        )
        .drop("_lines", "_kept")
    )


# Hyperlink extraction: double-quoted href attributes only (the
# normalized form a crawler's fetcher emits) — single-quoted/bare
# attributes are out of contract, documented. Java∩RE2 subset: inline
# (?is), non-greedy repetition, no lookaround.
LINK_RX = r'(?is)<a\s[^>]*?href\s*=\s*"([^"]*)"[^>]*>(.*?)</a>'
_TAG_RX = r"<[^>]+>"


def extract_links(
    df: DataFrame,
    id_col: str,
    html_col: str,
    *,
    canonicalize: bool = True,
) -> DataFrame:
    """Extract anchors from HTML: (id, link_idx, href, anchor[, url_canon])
    — the crawl-graph construction step that feeds the URL-domain report
    and the link-graph authority scores (operators/graph.py).

    anchor is the VISIBLE anchor text: inner tags become spaces, then
    whitespace collapses and trims. `canonicalize=True` adds url_canon
    via canonicalize_url_expr (NULL for relative/non-http links — join
    the crawl frontier on it, not on raw href).

    100 TB design: two regexp_extract_all passes over the same pattern
    (group 1 = href, group 2 = inner HTML — same match sequence, so
    arrays_zip aligns them by construction) + one posexplode; all
    scan-stage, zero shuffle."""
    c = F.coalesce(F.col(html_col), F.lit(""))
    rx = F.lit(LINK_RX)
    hrefs = F.regexp_extract_all(c, rx, 1)
    inner = F.regexp_extract_all(c, rx, 2)
    pairs = F.arrays_zip(hrefs.alias("u"), inner.alias("a"))
    anchor = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("_p")["a"], _TAG_RX, " "), r"\s+", " "
        )
    )
    out = (
        df.select(id_col, F.posexplode(pairs).alias("_i", "_p"))
        .select(
            id_col,
            F.col("_i").cast("int").alias("link_idx"),
            F.col("_p")["u"].alias("href"),
            anchor.alias("anchor"),
        )
    )
    if canonicalize:
        out = out.withColumn(
            "url_canon", canonicalize_url_expr(F.col("href"))
        )
    return out


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    id_col: str = "doc_id",
    domain_col: str = "domain",
    path_col: str = "path",
) -> DataFrame:
    """Robots-exclusion decisions for a URL table — the crawl-pipeline
    step between frontier and fetch (and, for training corpora, the
    retroactive compliance audit): per URL, apply the domain's robots
    rules for `agent` using the published REP semantics (RFC 9309):

    - a domain's rule GROUP is the specific agent's if any rule for
      that agent exists there, else the `*` group (groups never mix);
    - within the group, the LONGEST path-prefix match decides;
    - an allow/disallow tie at equal length resolves to allow;
    - no matching rule (or no rules at all for the domain) = allowed.

    `rules` rows: (domain, agent, allow boolean, prefix). Returns
    (id, domain, path, allowed).

    100 TB design: rules are metadata-sized next to the corpus — one
    domain-keyed equi-join (AQE picks broadcast when they fit), prefix
    match and ranking computed as scan-stage expressions on the joined
    rows, then ONE url-keyed max_by aggregate; the tie-break is the
    integer key 2·len(prefix)+allow so ranking needs no window. The
    specific-vs-wildcard group choice is a domain-keyed aggregate over
    the RULES side only (tiny) joined back before the probe."""
    tgt = F.lit(agent)
    scoped_dom = rules.groupBy(F.col(domain_col).alias("_rd")).agg(
        F.max(F.when(F.col("agent") == tgt, 1).otherwise(0)).alias("_has_spec")
    )
    r = (
        rules.select(
            F.col(domain_col).alias("_rd"),
            F.col("agent").alias("_agent"),
            F.col("allow").alias("_allow"),
            F.col("prefix").alias("_prefix"),
        )
        .join(F.broadcast(scoped_dom), "_rd")
        .filter(
            F.when(F.col("_has_spec") == 1, F.col("_agent") == tgt)
            .otherwise(F.col("_agent") == "*")
        )
    )
    base = urls.select(
        F.col(id_col).alias("_id"),
        F.col(domain_col).alias("domain"),
        F.col(path_col).alias("path"),
    )
    # EXPLICIT broadcast, not "AQE will pick it" (r8 100x audit): a
    # createDataFrame/RDD-backed rules relation has unknown stats, so
    # Spark planned a SortMergeJoin that shuffled the FULL url table on
    # `domain` — a column with a handful of distinct values, i.e. a
    # worst-case skewed exchange at corpus scale. Rules are
    # metadata-sized by contract, so the probe join must broadcast; the
    # only exchange left is the final url-keyed (well-distributed)
    # max_by aggregate.
    joined = base.join(
        F.broadcast(r), base["domain"] == r["_rd"], "left"
    ).withColumn(
        "_matched",
        F.col("_prefix").isNotNull()
        & F.col("path").startswith(F.col("_prefix")),
    )
    ord_ = F.when(
        F.col("_matched"),
        F.length("_prefix") * 2 + F.col("_allow").cast("int"),
    )
    decided = joined.groupBy("_id").agg(
        F.first("domain").alias("domain"),
        F.first("path").alias("path"),
        F.max_by(
            F.when(F.col("_matched"), F.col("_allow")), ord_
        ).alias("_decision"),
    )
    return decided.select(
        F.col("_id").alias(id_col),
        "domain",
        "path",
        F.coalesce(F.col("_decision"), F.lit(True)).alias("allowed"),
    )


def markdown_sections(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heading-aware document segmentation: split each document at ATX
    markdown headings (`# ` … `###### ` at line start) into
    (doc, section) rows — structure-aware chunking for RAG/training
    prep, where a token-window chunk that straddles a section boundary
    mixes unrelated content.

    Output per section: section ordinal `sec` (0 = preamble before the
    first heading; preamble rows exist only when the document has
    leading non-heading lines), `level` (heading depth 1-6, NULL for
    the preamble), `title` (heading text without the marker, NULL for
    the preamble), `body` (the section's non-heading lines joined with
    newlines, in document order), `n_lines` (body line count). Empty
    documents yield no rows.

    Plan: posexplode lines → one doc-keyed window (cumulative heading
    count = section ordinal) → one (doc, sec) aggregate; the window and
    the groupBy share the doc partitioning, so the whole segmentation
    is scan + two map-compatible exchanges. Everything is plain line
    arithmetic — no lookahead regex, so the DuckDB oracle (RE2, no
    lookahead) replays it operator-for-operator.

    Line terminators are universal — `\\r\\n`, `\\r`, or `\\n`
    (alternation order makes CRLF one terminator, the
    read_text_corpus precedent): crawled CRLF corpora would otherwise
    leak `\\r` into titles/bodies, and CR-only breaks would hide
    headings entirely. Bodies re-join with `\\n` regardless of the
    source terminator."""
    from pyspark.sql import Window

    lines = F.split(F.col(text_col), "\r\n|\r|\n")
    # split('') is [''] — one phantom line; the contract says empty/NULL
    # docs yield NO rows (posexplode of NULL already does)
    exploded = df.filter(F.length(F.col(text_col)) > 0).select(
        F.col(id_col),
        F.posexplode(lines).alias("_pos", "_line"),
    )
    is_h = F.col("_line").rlike("^#{1,6} ")
    w = Window.partitionBy(id_col).orderBy("_pos")
    secs = exploded.withColumn(
        "sec", F.sum(is_h.cast("int")).over(w).cast("int")
    ).withColumn("_is_h", is_h)
    body_lines = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("_is_h"),
                    F.struct(F.col("_pos"), F.col("_line")),
                )
            )
        ),
        lambda s: s["_line"],
    )
    return (
        secs.groupBy(id_col, "sec")
        .agg(
            F.max(F.when(F.col("_is_h"), F.col("_line"))).alias("_hline"),
            F.array_join(body_lines, "\n").alias("body"),
            F.sum((~F.col("_is_h")).cast("long")).alias("n_lines"),
        )
        .select(
            id_col,
            "sec",
            F.when(
                F.col("_hline").isNotNull(),
                F.length(F.regexp_extract(F.col("_hline"), r"^(#{1,6}) ", 1)),
            ).cast("int").alias("level"),
            F.when(
                F.col("_hline").isNotNull(),
                F.regexp_replace(F.col("_hline"), r"^#{1,6} ", ""),
            ).alias("title"),
            "body",
            "n_lines",
        )
    )
