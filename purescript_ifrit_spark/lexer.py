"""Lexer: SQL string → token stream.

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

`tokenize` returns a `Tokens` stream: parallel `kinds` and `values` lists
ending with EOF, filled from one regex scan of the source. Positions are
not kept while lexing; indexing or iterating the stream yields `Token`s
whose positions are computed once, on demand, by a second scan of the same
regex. Error messages and tests are their only readers.
"""

from __future__ import annotations

import re
from typing import Any, Iterator, List, Optional

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
    """One token with its source position and length: what indexing or
    iterating a `Tokens` stream yields. The parser never builds one on a
    successful parse."""

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
}

# operators and punctuation. `<=` / `>=` are the documented fix,
# SURVEY.md §2.3 F3.
_SYMBOLS = {
    "!=": BINARY, "<=": BINARY, ">=": BINARY,
    "=": BINARY, "<": BINARY, ">": BINARY,
    ")": PAREN_CLOSE, "(": PAREN_OPEN, ",": COMMA,
}

# One token per match: leading whitespace, then exactly one group, in the
# reference's rule order (Lexer.purs:176-229). Only GROUP/ORDER BY spans
# whitespace, so it comes before the word run; NUMBER comes before the run
# because only a run starting with a digit or "." can match it. Every
# non-whitespace character starts some alternative, so the matches tile the
# source up to its trailing whitespace.
_INVALID = 6
_SCAN = re.compile(
    r"\s*(?:"
    r"((?:GROUP|ORDER)\s+BY)(?![a-zA-Z0-9_.])"
    r"|([0-9]*\.?[0-9]+)"
    r"|([a-zA-Z0-9_.]+)"
    r'|("[a-zA-Z0-9_.]+")'
    r"|(!=|<=|>=|[=<>(),])"
    r"|(\S))"
)


class Tokens:
    """The token stream of one source: `kinds[i]` and `values[i]` describe
    token i, and the last token is EOF. `len()` counts EOF. Indexing or
    iterating yields `Token`s; their positions come from one `finditer`
    over the source, run on first use and kept."""

    __slots__ = ("source", "kinds", "values", "_tokens")

    def __init__(self, source: str, kinds: List[str], values: List[Any]):
        self.source = source
        self.kinds = kinds
        self.values = values
        self._tokens: Optional[List[Token]] = None

    def __len__(self) -> int:
        return len(self.kinds)

    def __getitem__(self, i):
        return self._positioned()[i]

    def __iter__(self) -> Iterator[Token]:
        return iter(self._positioned())

    def _positioned(self) -> List[Token]:
        if self._tokens is None:
            tokens = []
            for kind, value, m in zip(
                self.kinds, self.values, _SCAN.finditer(self.source)
            ):
                start = m.start(m.lastindex)
                tokens.append(Token(kind, value, start, m.end() - start))
            tokens.append(Token(EOF, None, len(self.source)))
            self._tokens = tokens
        return self._tokens


def tokenize(source: str) -> Tokens:
    """Tokenize; appends EOF. Raises LexError with reference-parity message.

    One `findall` pass of `_SCAN` splits the source into tokens; the loop
    only classifies them. A word run is looked up in `_WORDS` (keyword,
    function, NOT or boolean), else it is a WORD. tests/test_lexer.py
    checks the stream against a rule-by-rule lexer in the reference's order
    (Lexer.purs:176-229)."""
    kinds: List[str] = []
    values: List[Any] = []
    kind = kinds.append
    value = values.append
    words_get = _WORDS.get
    for two_word, number, run, string, symbol, bad in _SCAN.findall(source):
        if run:
            hit = words_get(run)
            if hit is None:
                kind(WORD)
                value(run)
            else:
                kind(hit[0])
                value(hit[1])
        elif symbol:
            kind(_SYMBOLS[symbol])
            value(symbol)
        elif number:
            kind(NUMBER)
            value(float(number))
        elif string:
            kind(STRING)
            value(string[1:-1])
        elif two_word:
            kind(KEYWORD)
            value("GROUPBY" if two_word[0] == "G" else "ORDERBY")
        else:
            pos = next(
                m.start(_INVALID) for m in _SCAN.finditer(source)
                if m.lastindex == _INVALID
            )
            raise invalid_token(bad, pos)
    kind(EOF)
    value(None)
    return Tokens(source, kinds, values)
