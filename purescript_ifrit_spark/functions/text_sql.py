"""Spark SQL renderings of the text-cleaning and quality rules, with the
pattern tables and thresholds they read: the dialect REDACT, HTMLTEXT,
C4PASS and GOPHER texts. Imports no pyspark, so rendering those functions
to SQL stays Spark-free; operators/text_cleaning.py and
operators/text_analysis.py build their Column forms from the same tables."""

from __future__ import annotations

from typing import Tuple

from purescript_ifrit_spark.plans.spark_sql import _lit as _sql_lit

# (kind, pattern, replacement) — ORDER MATTERS (operators/text_cleaning.py's
# module docstring says why)
PII_PATTERNS: Tuple[Tuple[str, str, str], ...] = (
    ("url", r"https?://\S+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d[\d\-\s()]{6,}\d", "<PHONE>"),
)


def redact_sql(x: str) -> str:
    """Spark-SQL twin of `redact_expr` (nested regexp_replace, same
    pattern order) — the dialect REDACT rendering."""
    for _, rx, tok in PII_PATTERNS:
        lit = rx.replace("\\", "\\\\")
        x = f"regexp_replace({x}, '{lit}', '{tok}')"
    return x


# HTML extraction stages, IN ORDER (each runs on the previous stage's
# output — the oracle mirrors them stage by stage). Java∩RE2 subset:
# (?is) flags and non-greedy repetition are in both; no lookaround.
HTML_STAGES: Tuple[Tuple[str, str], ...] = (
    # script/style/noscript blocks vanish wholesale (content is code)
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?is)<noscript\b[^>]*>.*?</noscript>", " "),
    # HTML comments
    (r"(?s)<!--.*?-->", " "),
    # block-level boundaries become newlines so visible-text line structure
    # survives for the downstream line-level boilerplate filter
    (r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/table|/section|/article)\b[^>]*>", "\n"),
    # every remaining tag is a word separator
    (r"<[^>]+>", " "),
)


# common entities, applied after tag removal. &amp; decodes LAST: decoding
# it earlier turns the escaped-escape '&amp;lt;' (which renders as the
# literal text '&lt;') into '&lt;' and a later pass double-decodes it to
# '<' — the single-pass contract is each source entity decodes exactly
# once. (Tag re-introduction is not a concern: stripping already ran.)
HTML_ENTITIES: Tuple[Tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
)


def html_text_spark_sql(x: str) -> str:
    """Spark SQL twin of `html_text_expr` (same stages, same order) — the
    dialect HTMLTEXT rendering. Unlike DuckDB, Spark string literals
    process backslash escapes, so every pattern and replacement goes
    through the emitter's literal escaping."""
    out = x
    for rx, repl in HTML_STAGES:
        out = f"regexp_replace({out}, {_sql_lit(rx)}, {_sql_lit(repl)})"
    for ent, repl in HTML_ENTITIES:
        out = f"replace({out}, {_sql_lit(ent)}, {_sql_lit(repl)})"
    hspace, nl = _sql_lit(r"[ \t\r]+"), _sql_lit("\n")
    out = f"regexp_replace({out}, {hspace}, ' ')"
    return (
        f"array_join(filter(transform(split({out}, {nl}), l -> trim(l)), "
        f"l -> l <> ''), {nl})"
    )


# C4 line and page rules (operators/text_cleaning.py documents them)
C4_TERMINAL_RX = r'[.!?"]$'
C4_MIN_WORDS_PER_LINE = 3
C4_MIN_KEPT_LINES = 3


def c4_pass_sql(x: str) -> str:
    """The C4 page-level pass/fail at the default thresholds as one Spark
    SQL boolean — the dialect C4PASS rendering (same rules and the same
    trim-first contract as c4_kept_expr / c4_line_filter)."""
    kept = (
        f"filter(transform(split({x}, '\\r\\n|\\r|\\n'), l -> trim(l)), "
        "l -> l rlike '[.!?\"]$' "
        f"AND size(filter(split(l, ' '), w -> w != '')) >= "
        f"{C4_MIN_WORDS_PER_LINE} "
        "AND NOT contains(lower(l), 'javascript'))"
    )
    return (
        f"(size({kept}) >= {C4_MIN_KEPT_LINES} "
        f"AND NOT contains(lower({x}), 'lorem ipsum') "
        f"AND NOT contains({x}, '{{'))"
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# the paper's default thresholds, consumed by gopher_quality_flags'
# keyword defaults, gopher_pass_sql (the dialect GOPHER) AND the DuckDB
# oracles (suite/text._gopher_oracle) — one definition so a threshold
# tweak cannot leave one of the three surfaces behind
GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "min_alpha_frac": 0.8,
    "min_stopwords": 2,
}


def gopher_pass_sql(x: str) -> str:
    """The combined Gopher pass/fail at the DEFAULT thresholds as one Spark
    SQL boolean — the dialect GOPHER(f) scalar (parameterized thresholds
    go through gopher_quality_flags). Same rule arithmetic as
    _gopher_parts and the same nonspace-character identity for mean word
    length (sum of token lengths == length of the normalized text minus
    its n−1 separators) — value-identical to gopher_quality_flags, pinned
    in tests including a planted PASSING document (the sf corpus fails
    every doc on word count, which once masked an inverted identity
    here)."""
    d = GOPHER_DEFAULTS
    n = f"trim(regexp_replace(lower({x}), '\\\\s+', ' '))"
    toks = f"split({n}, ' ')"
    nw = (
        f"CAST(CASE WHEN length({n}) = 0 THEN 0 "
        f"ELSE size({toks}) END AS BIGINT)"
    )
    sum_len = f"(length({n}) - greatest({nw} - 1, 0))"
    mwl = (
        f"CASE WHEN {nw} > 0 THEN CAST({sum_len} AS DOUBLE) / {nw} "
        "ELSE 0.0D END"
    )
    dots = "'" + "\\\\." * 3 + "'"
    sy = (
        f"(length({x}) - length(replace({x}, '#', '')) "
        f"+ size(split({x}, {dots})) - 1)"
    )
    syr = f"CASE WHEN {nw} > 0 THEN CAST({sy} AS DOUBLE) / {nw} ELSE 0.0D END"
    na = (
        f"CASE WHEN length({n}) = 0 THEN 0 "
        f"ELSE size(filter({toks}, w -> w rlike '[a-z]')) END"
    )
    af = f"CASE WHEN {nw} > 0 THEN CAST({na} AS DOUBLE) / {nw} ELSE 0.0D END"
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    ns = f"size(array_intersect(array_distinct({toks}), array({stops})))"
    return (
        f"({nw} >= {d['min_words']} AND {nw} <= {d['max_words']} "
        f"AND ({mwl}) >= {d['min_mean_word_len']}D "
        f"AND ({mwl}) <= {d['max_mean_word_len']}D "
        f"AND ({syr}) <= {d['max_symbol_ratio']}D "
        f"AND ({af}) >= {d['min_alpha_frac']}D "
        f"AND {ns} >= {d['min_stopwords']})"
    )
