"""Lexer: SQL string → token list with positions.

Faithful re-expression of the reference lexer (src/Ifrit/Lexer.purs):

- case-sensitive keywords (Lexer.purs:176-177) and functions
  AVG|COUNT|MAX|MIN|SUM (Lexer.purs:193-195) plus the engine's extension
  functions. A name is recognized only when the maximal run of word
  characters equals it (maximal munch), which is the reference's "name not
  followed by a word character" rule: `ASC` is one keyword, `ANDREW` and
  `MINHASH1` are words. GROUP BY / ORDER BY are two-word keywords with any
  whitespace between them.
- binaries != = < > (Lexer.purs:190-195). `<=` / `>=` exist as token kinds in
  the reference but are never emitted by its tokenizer (SURVEY.md §2.3 F3) —
  we lex them directly as a documented fix (they remain reachable via NOT).
- booleans `true|false`, numbers `[0-9]*\\.?[0-9]+` (no negatives), strings
  double-quoted over charset [a-zA-Z0-9_.], words over the same charset
  (Lexer.purs:198-229)
- error parity: "invalid token '<char>' at position <pos>"
"""

from __future__ import annotations

import re
from typing import Any, List

from purescript_ifrit_spark.errors import invalid_token

# token kinds
KEYWORD = "keyword"
FUNCTION = "function"
UNARY = "unary"
BINARY = "binary"
BOOLEAN = "boolean"
NUMBER = "number"
STRING = "string"
WORD = "word"
PAREN_OPEN = "paren_open"
PAREN_CLOSE = "paren_close"
COMMA = "comma"
EOF = "eof"


class Token:
    """Slotted value object (NOT a dataclass: token construction is the
    lexer's hot path — a frozen dataclass pays object.__setattr__ per
    field; __slots__ assignment is ~3× cheaper)."""

    __slots__ = ("kind", "value", "pos", "_length")

    def __init__(self, kind: str, value: Any, pos: int, _length: int = 0):
        self.kind = kind
        self.value = value
        self.pos = pos
        self._length = _length

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, Token)
            and self.kind == other.kind
            and self.value == other.value
            and self.pos == other.pos
        )

    def __hash__(self) -> int:
        return hash((self.kind, self.value, self.pos))

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.kind}({self.value!r}@{self.pos})"


# Keywords (Lexer.purs:176-177); GROUP BY / ORDER BY are two-word keywords
# normalized to GROUPBY / ORDERBY.
_KEYWORDS = (
    "DISTINCT", "OFFSET", "SELECT", "WHERE", "LIMIT", "NULL", "FROM", "AND",
    "ASC", "AS", "OR", "DESC",
)
# reference functions (Lexer.purs:193-195) + engine extension functions
# (functions/dialect_ext.py, SURVEY §2.7/§7 phase 6). Kept by hand so that
# lexing imports no Spark; tests/test_lexer.py pins it to EXT_FUNCTIONS.
_FUNCTIONS = (
    "AVG", "COUNT", "MAX", "MIN", "SUM",
    "TOKEN_COUNT", "QUALITY_SCORE", "QUALITY", "LANG_ID", "FINGERPRINT",
    "CHUNK", "SPLIT", "REDACT", "HTMLTEXT", "TUMBLE", "SESSIONIZE",
    "VECTORIZE", "IMAGE_DHASH", "GOPHER", "C4PASS", "JL_PROJECT",
    "MINHASH", "BM25", "NFC", "SIMHASH", "PQ_ENCODE",
)

# a maximal run of word characters → (kind, value). Every entry is made of
# word characters only, so an exact lookup of the maximal run is the
# reference's "name not followed by a word character" rule.
_WORDS = {
    **{k: (KEYWORD, k) for k in _KEYWORDS},
    **{f: (FUNCTION, f) for f in _FUNCTIONS},
    "NOT": (UNARY, "NOT"),
    "true": (BOOLEAN, True),
    "false": (BOOLEAN, False),
    # GROUP / ORDER start a two-word keyword: kind None marks an entry whose
    # value must match at the run's position (no match: the run is a WORD)
    "GROUP": (None, re.compile(r"GROUP\s+BY(?![a-zA-Z0-9_.])").match),
    "ORDER": (None, re.compile(r"ORDER\s+BY(?![a-zA-Z0-9_.])").match),
}

# NUMBER is tried before the word run, as in the reference's rule order
# (only a run starting with a digit or "." can match it); group 1 set
# means the NUMBER alternative won
_NUMBER_OR_RUN = re.compile(r"([0-9]*\.?[0-9]+)|[a-zA-Z0-9_.]+")
_STRING = re.compile(r'"[a-zA-Z0-9_.]+"')
# operators and punctuation: two-character operators are looked up first.
# `<=` / `>=` are the documented fix, SURVEY.md §2.3 F3.
_SYMBOLS = {
    "!=": BINARY, "<=": BINARY, ">=": BINARY,
    "=": BINARY, "<": BINARY, ">": BINARY,
    ")": PAREN_CLOSE, "(": PAREN_OPEN, ",": COMMA,
}

_WS = re.compile(r"\s*")
# ASCII whitespace for the inline fast-path skip below; non-ASCII \s
# matches (NBSP etc.) take the _WS regex fallback
_WS_CHARS = " \t\n\r\x0b\x0c"


def tokenize(source: str) -> List[Token]:
    """Tokenize; appends EOF. Raises LexError with reference-parity message.

    Word first: at each position one regex takes a NUMBER or the maximal
    run of word characters, and one dict lookup classifies the run as a
    keyword, function, NOT or boolean, else a WORD. Strings, operators and
    punctuation are handled by their first character. Whitespace is skipped
    inline (typical gaps are one space); non-ASCII whitespace falls back to
    the `\\s*` regex. tests/test_lexer.py checks the token stream against a
    rule-by-rule lexer in the reference's order (Lexer.purs:176-229)."""
    tokens: List[Token] = []
    append = tokens.append
    run_match = _NUMBER_OR_RUN.match
    words_get = _WORDS.get
    pos = 0
    n = len(source)
    while True:
        while pos < n and source[pos] in _WS_CHARS:
            pos += 1
        if pos >= n:
            append(Token(EOF, None, pos))
            return tokens
        m = run_match(source, pos)
        if m is not None:
            end = m.end()
            raw = m.group()
            if m.lastindex:
                append(Token(NUMBER, float(raw), pos, end - pos))
            else:
                hit = words_get(raw)
                if hit is None:
                    append(Token(WORD, raw, pos, end - pos))
                elif hit[0] is not None:
                    append(Token(hit[0], hit[1], pos, end - pos))
                else:
                    pair = hit[1](source, pos)
                    if pair is None:
                        append(Token(WORD, raw, pos, end - pos))
                    else:
                        end = pair.end()
                        append(Token(KEYWORD, raw + "BY", pos, end - pos))
            pos = end
            continue
        c = source[pos]
        sym = source[pos:pos + 2]
        kind = _SYMBOLS.get(sym)
        if kind is None:
            sym = c
            kind = _SYMBOLS.get(c)
        if kind is not None:
            append(Token(kind, sym, pos, len(sym)))
            pos += len(sym)
            continue
        if c == '"':
            m = _STRING.match(source, pos)
            if m is not None:
                end = m.end()
                append(Token(STRING, source[pos + 1:end - 1], pos, end - pos))
                pos = end
                continue
        # rare path: \s covers non-ASCII whitespace the inline skip does not
        ws_end = _WS.match(source, pos).end()
        if ws_end == pos:
            raise invalid_token(c, pos)
        pos = ws_end
