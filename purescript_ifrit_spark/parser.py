"""Recursive-descent parser: token stream → Statement AST.

Faithful re-expression of the reference parser (src/Ifrit/Parser.purs):

- fixed clause order SELECT → FROM → WHERE → GROUP BY → ORDER BY → LIMIT →
  OFFSET (Parser.purs:443-451, README.md:245-254); input must end at EOF or
  `)` (Parser.purs:453-460)
- condition grammar (Parser.purs:74-99):
      Condition := Term (OR Term)?
      Term      := Factor (AND Factor)?
      Factor    := (Condition) | NOT Factor | Operand (BinOp Operand)?
  AND/OR are strictly binary — chaining needs parentheses.
- selectors: Word [AS Word] | FN(Word) [AS Word] | (selector), comma lists
  (Parser.purs:356-437); FN(a,b) / FN(14) → "invalid argument"
- LIMIT/OFFSET require integer literals (Parser.purs:326-338)
- FROM only introduces a parenthesized derived statement (Parser.purs:446)
- error-message parity with Parser.purs:585-608

The parser reads the stream's parallel `kinds` / `values` lists by index
(lexer.Tokens). A token position is needed only for an error message, and
is asked of the stream then; a successful parse builds no `Token`.
"""

from __future__ import annotations

from typing import List, Optional

from purescript_ifrit_spark import lexer as L
from purescript_ifrit_spark.lexer import (
    BINARY,
    BOOLEAN,
    COMMA,
    EOF,
    FUNCTION,
    KEYWORD,
    NUMBER,
    PAREN_CLOSE,
    PAREN_OPEN,
    STRING,
    UNARY,
    WORD,
)
from purescript_ifrit_spark.errors import ParseError
from purescript_ifrit_spark.plans.ast import (
    And,
    BinaryCond,
    Condition,
    FieldOperand,
    FnCall,
    FnOperand,
    Group,
    LitOperand,
    Not,
    Operand,
    Or,
    OrderKey,
    Projection,
    Select,
    Selector,
    Statement,
)


_LITERALS = (STRING, NUMBER, BOOLEAN)


def _show_token(kind: str, value) -> str:
    if kind == EOF:
        return "EOF"
    if kind == STRING:
        return f'"{value}"'
    if kind == BOOLEAN:
        return "true" if value else "false"
    if kind == NUMBER:
        return str(int(value)) if float(value).is_integer() else str(value)
    return str(value)


class _Parser:
    """Cursor `i` over the stream's parallel `kinds` / `values` lists.
    Only the error paths read a token position (`tokens[i].pos`)."""

    __slots__ = ("tokens", "kinds", "values", "i")

    def __init__(self, tokens: L.Tokens):
        self.tokens = tokens
        self.kinds = tokens.kinds
        self.values = tokens.values
        self.i = 0

    # -- cursor helpers -----------------------------------------------------
    def advance(self):
        """Consume the current token and return its value. Callers check
        its kind first, so the cursor never moves past EOF."""
        i = self.i
        self.i = i + 1
        return self.values[i]

    def eat_keyword(self, kw: str) -> bool:
        i = self.i
        if self.values[i] == kw and self.kinds[i] == KEYWORD:
            self.i = i + 1
            return True
        return False

    # -- errors (message parity: Parser.purs:585-608) -----------------------
    def pos(self) -> int:
        return self.tokens[self.i].pos

    def err_unexpected(self) -> ParseError:
        kind = self.kinds[self.i]
        if kind == EOF:
            return ParseError("unexpected end of expression")
        return ParseError(
            f"unexpected token: {_show_token(kind, self.values[self.i])} "
            f"at position {self.pos()}"
        )

    def err_unbalanced(self) -> ParseError:
        kind = self.kinds[self.i]
        if kind == EOF:
            return ParseError(
                "unbalanced parenthesis expression: expected `)` but got end of input"
            )
        return ParseError(
            "unbalanced parenthesis expression: expected `)` but got: "
            f"{_show_token(kind, self.values[self.i])} at position {self.pos()}"
        )

    # -- statement ----------------------------------------------------------
    def parse_statement(self) -> Statement:
        if not self.eat_keyword("SELECT"):
            raise self.err_unexpected()
        projections = self.parse_selector_list()
        kinds = self.kinds

        source: Optional[Statement] = None
        if self.eat_keyword("FROM"):
            if kinds[self.i] != PAREN_OPEN:
                raise self.err_unexpected()
            self.i += 1
            source = self.parse_statement()
            if kinds[self.i] != PAREN_CLOSE:
                raise self.err_unbalanced()
            self.i += 1

        where: Optional[Condition] = None
        if self.eat_keyword("WHERE"):
            where = self.parse_condition()

        group_by: Optional[str | FnCall] = None
        grouped = False
        if self.eat_keyword("GROUPBY"):
            grouped = True
            kind = kinds[self.i]
            if self.eat_keyword("NULL"):
                group_by = None
            elif kind == WORD:
                group_by = self.advance()
            elif kind == FUNCTION:
                # engine extension: GROUP BY FN(field) — grouping by a
                # computed key (e.g. GROUP BY FINGERPRINT(text) for exact
                # dedup); the analyzer restricts FN to groupable extension
                # functions
                group_by = self.parse_fn_call()
            else:
                raise self.err_unexpected()

        order_by: List[OrderKey] = []
        if self.eat_keyword("ORDERBY"):
            order_by = self.parse_order_keys()

        limit = self.parse_int_clause("LIMIT")
        offset = self.parse_int_clause("OFFSET")

        if grouped:
            return Group(
                projections=projections,
                group_by=group_by,
                source=source,
                where=where,
                order_by=order_by,
                limit=limit,
                offset=offset,
            )
        return Select(
            projections=projections,
            source=source,
            where=where,
            order_by=order_by,
            limit=limit,
            offset=offset,
        )

    # -- selectors ----------------------------------------------------------
    def parse_selector_list(self) -> List[Selector]:
        selectors = [self.parse_selector()]
        while self.kinds[self.i] == COMMA:
            self.i += 1
            selectors.append(self.parse_selector())
        return selectors

    def parse_selector(self) -> Selector:
        kind = self.kinds[self.i]
        if kind == WORD:
            return Projection(path=self.advance(), alias=self.parse_alias())
        if kind == FUNCTION:
            call = self.parse_fn_call()
            return FnCall(fn=call.fn, path=call.path, alias=self.parse_alias())
        if kind == PAREN_OPEN:
            # parenthesized selector: `SELECT (a), b` (Parser.purs:389-399)
            self.i += 1
            inner = self.parse_selector()
            if self.kinds[self.i] != PAREN_CLOSE:
                raise self.err_unbalanced()
            self.i += 1
            return inner
        raise self.err_unexpected()

    def parse_fn_call(self) -> FnCall:
        """`FN ( word )` with reference error parity (cursor at FUNCTION)."""
        kinds = self.kinds
        fn = self.advance()
        if kinds[self.i] != PAREN_OPEN:
            raise self.err_unexpected()
        self.i += 1
        if kinds[self.i] != WORD:
            # FN(14), FN("x") → invalid argument (Parser.purs:368-387)
            raise ParseError(f"{fn} has an invalid argument at position {self.pos()}")
        arg = self.advance()
        kind = kinds[self.i]
        if kind == COMMA:
            raise ParseError(f"{fn} has an invalid argument at position {self.pos()}")
        if kind != PAREN_CLOSE:
            raise self.err_unbalanced()
        self.i += 1
        return FnCall(fn=fn, path=arg, alias=None)

    def parse_alias(self) -> Optional[str]:
        if self.eat_keyword("AS"):
            if self.kinds[self.i] != WORD:
                raise self.err_unexpected()
            return self.advance()
        return None

    # -- conditions ---------------------------------------------------------
    def parse_condition(self) -> Condition:
        term = self.parse_term()
        if self.eat_keyword("OR"):
            return Or(term, self.parse_term())
        return term

    def parse_term(self) -> Condition:
        factor = self.parse_factor()
        if self.eat_keyword("AND"):
            return And(factor, self.parse_factor())
        return factor

    def parse_factor(self) -> Condition:
        kind = self.kinds[self.i]
        if kind == PAREN_OPEN:
            self.i += 1
            cond = self.parse_condition()
            if self.kinds[self.i] != PAREN_CLOSE:
                raise self.err_unbalanced()
            self.i += 1
            return cond
        if kind == UNARY:  # NOT
            self.i += 1
            return Not(self.parse_factor())
        operand = self.parse_operand()
        if self.kinds[self.i] == BINARY:
            op = self.advance()
            rhs = self.parse_operand()
            return BinaryCond(op=op, lhs=operand, rhs=rhs)
        if isinstance(operand, FnOperand):
            # extension scalars have no boolean result — a bare
            # `WHERE QUALITY(text)` predicate is meaningless; require a
            # comparison (bare-field F7 semantics stay boolean-field-only)
            raise self.err_unexpected()
        return operand  # bare boolean field / literal predicate

    def parse_operand(self) -> Operand:
        kind = self.kinds[self.i]
        if kind == WORD:
            return FieldOperand(self.advance())
        if kind in _LITERALS:
            return LitOperand(self.advance())
        if self.eat_keyword("NULL"):
            return LitOperand(None)
        if kind == FUNCTION:
            # engine extension: ext-fn operands in conditions
            # (WHERE QUALITY(text) > 0.5). Reference fns keep their
            # reference behavior — a parse error in operand position.
            from purescript_ifrit_spark.functions.dialect_ext import EXT_FUNCTIONS

            if self.values[self.i] in EXT_FUNCTIONS:
                call = self.parse_fn_call()
                return FnOperand(fn=call.fn, path=call.path)
        raise self.err_unexpected()

    # -- order / limit / offset --------------------------------------------
    def parse_order_keys(self) -> List[OrderKey]:
        keys = [self.parse_order_key()]
        while self.kinds[self.i] == COMMA:
            self.i += 1
            keys.append(self.parse_order_key())
        return keys

    def parse_order_key(self) -> OrderKey:
        # ORDER BY NULL is a parse error (Parser.purs:294-323)
        if self.kinds[self.i] != WORD:
            raise self.err_unexpected()
        path = self.advance()
        ascending = True
        if self.eat_keyword("ASC"):
            ascending = True
        elif self.eat_keyword("DESC"):
            ascending = False
        return OrderKey(path=path, ascending=ascending)

    def parse_int_clause(self, kw: str) -> Optional[int]:
        if not self.eat_keyword(kw):
            return None
        value = self.values[self.i]
        if self.kinds[self.i] != NUMBER or not float(value).is_integer():
            # Parser.purs:601-602
            raise ParseError(f"{kw} must be an integer at position {self.pos()}")
        self.i += 1
        return int(value)


def parse(tokens: L.Tokens) -> Statement:
    """Parse a full statement; must consume everything up to EOF
    (Parser.purs:453-460)."""
    p = _Parser(tokens)
    stmt = p.parse_statement()
    if p.kinds[p.i] != EOF:
        raise p.err_unexpected()
    return stmt


def parse_sql(source: str) -> Statement:
    return parse(L.tokenize(source))
