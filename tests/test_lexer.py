"""Lexer unit tests — modeled on the reference's layer 1
(test/Test.Main.purs:48-171): token kinds, positions, error goldens."""

from __future__ import annotations

import random
import re

import pytest

from purescript_ifrit_spark import lexer as L
from purescript_ifrit_spark.errors import LexError, invalid_token


def kinds(src):
    return [(t.kind, t.value) for t in L.tokenize(src)]


def test_simple_select():
    assert kinds("SELECT age") == [
        (L.KEYWORD, "SELECT"),
        (L.WORD, "age"),
        (L.EOF, None),
    ]


def test_positions():
    toks = L.tokenize("SELECT  age")
    assert [t.pos for t in toks] == [0, 8, 11]


def test_two_word_keywords():
    assert kinds("GROUP BY x ORDER BY y") == [
        (L.KEYWORD, "GROUPBY"),
        (L.WORD, "x"),
        (L.KEYWORD, "ORDERBY"),
        (L.WORD, "y"),
        (L.EOF, None),
    ]


def test_keyword_order_or_vs_orderby_as_vs_asc():
    # "OR is included in ORDER BY, AS in ASC" (Lexer.purs:176-177)
    assert kinds("AS ASC OR ORDER BY x DESC")[:4] == [
        (L.KEYWORD, "AS"),
        (L.KEYWORD, "ASC"),
        (L.KEYWORD, "OR"),
        (L.KEYWORD, "ORDERBY"),
    ]


def test_case_sensitive():
    # lowercase keywords are plain words (README: "Ifrit is case-sensitive")
    assert kinds("select age") == [
        (L.WORD, "select"),
        (L.WORD, "age"),
        (L.EOF, None),
    ]


def test_functions_and_parens():
    assert kinds("AVG(power)") == [
        (L.FUNCTION, "AVG"),
        (L.PAREN_OPEN, "("),
        (L.WORD, "power"),
        (L.PAREN_CLOSE, ")"),
        (L.EOF, None),
    ]


def test_operators():
    assert [k for k, _ in kinds("a != b = c < d > e <= f >= g")] == [
        L.WORD, L.BINARY, L.WORD, L.BINARY, L.WORD, L.BINARY, L.WORD,
        L.BINARY, L.WORD, L.BINARY, L.WORD, L.BINARY, L.WORD, L.EOF,
    ]


def test_literals():
    assert kinds('WHERE x = "abc_1.z" OR y = 14.5 OR z = true OR w = NULL') == [
        (L.KEYWORD, "WHERE"),
        (L.WORD, "x"), (L.BINARY, "="), (L.STRING, "abc_1.z"),
        (L.KEYWORD, "OR"),
        (L.WORD, "y"), (L.BINARY, "="), (L.NUMBER, 14.5),
        (L.KEYWORD, "OR"),
        (L.WORD, "z"), (L.BINARY, "="), (L.BOOLEAN, True),
        (L.KEYWORD, "OR"),
        (L.WORD, "w"), (L.BINARY, "="), (L.KEYWORD, "NULL"),
        (L.EOF, None),
    ]


def test_number_shapes():
    assert kinds(".5")[0] == (L.NUMBER, 0.5)
    assert kinds("42")[0] == (L.NUMBER, 42.0)
    # no negative literals (Lexer.purs nextNumber regex)
    with pytest.raises(LexError):
        L.tokenize("-42")


def test_dotted_word():
    assert kinds("details.bio.age")[0] == (L.WORD, "details.bio.age")


def test_invalid_token_golden():
    # reference golden shape: "invalid token '?' at position 6"
    with pytest.raises(LexError) as e:
        L.tokenize("SELECT ?")
    assert str(e.value) == "invalid token '?' at position 7"


def test_keyword_prefix_of_identifier_stays_word():
    assert kinds("ANDREW")[0] == (L.WORD, "ANDREW")
    assert kinds("trueish")[0] == (L.WORD, "trueish")


# -- differential check against a rule-by-rule lexer -------------------------

_REF_WORD_CHARS = r"[a-zA-Z0-9_.]"
_REF_BOUNDARY = rf"(?!{_REF_WORD_CHARS})"
_REF_KEYWORDS = [
    ("DISTINCT", "DISTINCT"), ("GROUP\\s+BY", "GROUPBY"),
    ("ORDER\\s+BY", "ORDERBY"), ("OFFSET", "OFFSET"), ("SELECT", "SELECT"),
    ("WHERE", "WHERE"), ("LIMIT", "LIMIT"), ("NULL", "NULL"),
    ("FROM", "FROM"), ("AND", "AND"), ("ASC", "ASC"), ("AS", "AS"),
    ("OR", "OR"), ("DESC", "DESC"),
]
_REF_FUNCTIONS = [
    "AVG", "COUNT", "MAX", "MIN", "SUM",
    "TOKEN_COUNT", "QUALITY_SCORE", "QUALITY", "LANG_ID", "FINGERPRINT",
    "CHUNK", "SPLIT", "REDACT", "HTMLTEXT", "TUMBLE", "SESSIONIZE",
    "VECTORIZE", "IMAGE_DHASH", "GOPHER", "C4PASS", "JL_PROJECT",
    "MINHASH", "BM25", "NFC", "SIMHASH", "PQ_ENCODE",
]
# (kind, regex, normalized value) in the reference's priority order
# (Lexer.purs:176-229), each tried in turn with re.match
_REF_RULES = [
    (kind, re.compile(pat), norm)
    for kind, pat, norm in (
        [(L.KEYWORD, p + _REF_BOUNDARY, v) for p, v in _REF_KEYWORDS]
        + [(L.FUNCTION, f + _REF_BOUNDARY, f) for f in _REF_FUNCTIONS]
        + [
            (L.UNARY, "NOT" + _REF_BOUNDARY, "NOT"),
            (L.BINARY, r"!=", "!="),
            (L.BINARY, r"<=", "<="),
            (L.BINARY, r">=", ">="),
            (L.BINARY, r"=", "="),
            (L.BINARY, r"<", "<"),
            (L.BINARY, r">", ">"),
            (L.BOOLEAN, "(?:true|false)" + _REF_BOUNDARY, None),
            (L.NUMBER, r"[0-9]*\.?[0-9]+", None),
            (L.STRING, r'"[a-zA-Z0-9_.]+"', None),
            (L.WORD, r"[a-zA-Z0-9_.]+", None),
            (L.PAREN_CLOSE, r"\)", ")"),
            (L.PAREN_OPEN, r"\(", "("),
            (L.COMMA, r",", ","),
        ]
    )
]
_REF_WS = re.compile(r"\s*")


def reference_tokenize(source):
    tokens = []
    pos = 0
    while True:
        pos = _REF_WS.match(source, pos).end()
        if pos >= len(source):
            tokens.append(L.Token(L.EOF, None, pos))
            return tokens
        for kind, rx, norm in _REF_RULES:
            m = rx.match(source, pos)
            if m:
                break
        else:
            raise invalid_token(source[pos], pos)
        raw = m.group(0)
        if norm is not None:
            value = norm
        elif kind == L.NUMBER:
            value = float(raw)
        elif kind == L.STRING:
            value = raw[1:-1]
        elif kind == L.BOOLEAN:
            value = raw == "true"
        else:
            value = raw
        tokens.append(L.Token(kind, value, pos, m.end() - pos))
        pos = m.end()


def _outcome(lex, source):
    try:
        return [(t.kind, type(t.value), t.value, t.pos, t._length)
                for t in lex(source)]
    except LexError as e:
        return ("LexError", str(e))


_FRAGMENTS = (
    [kw for kw, _ in _REF_KEYWORDS if "\\" not in kw] + _REF_FUNCTIONS
    + ["GROUP", "ORDER", "BY", "GROUP  BY", "ORDER\tBY", "GROUP\xa0BY",
       "MIN", "MINHASH", "AS", "ASC", "NOT", "true", "false", "x", "_a",
       "select", "True", "FALSE"]
    + list("0123456789") + [".", '"', "!", "=", "<", ">", "(", ")", ","]
    + [" ", "\t", "\n", "\r", "\x0b", "\x0c", "\xa0", " ", "é"]
)
_SEPARATORS = ["", "", "", " ", "  ", "\t", "\n", "\xa0", ".", '"', "_"]


def _fuzz_source(rng):
    parts = []
    for _ in range(rng.randint(1, 6)):
        parts.append(rng.choice(_FRAGMENTS))
        parts.append(rng.choice(_SEPARATORS))
    return "".join(parts)


def test_tokenize_matches_rule_by_rule_reference_on_fuzz():
    rng = random.Random(20261019)
    for _ in range(100_000):
        src = _fuzz_source(rng)
        assert _outcome(L.tokenize, src) == _outcome(reference_tokenize, src), src


def test_tokenize_matches_rule_by_rule_reference_on_edge_cases():
    for src in ['"abc"', '""', '"a b"', "1.2.3", "12abc", ".5x", "..", "MIN(",
                "MINHASH(x)", "GROUPBY", "GROUP BY x", "ORDER BYx",
                "ORDER BY.x", "truefalse", "NOT(x)", "!", "!==", "<>=", "a\x1cb",
                "SELECT é", "é", ""]:
        assert _outcome(L.tokenize, src) == _outcome(reference_tokenize, src), src


def test_function_names_match_the_extension_registry():
    from purescript_ifrit_spark.functions.dialect_ext import EXT_FUNCTIONS

    reference = {"AVG", "COUNT", "MAX", "MIN", "SUM"}
    assert set(L._FUNCTIONS) == reference | set(EXT_FUNCTIONS)
    assert len(L._FUNCTIONS) == len(set(L._FUNCTIONS))
