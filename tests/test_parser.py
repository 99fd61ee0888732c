"""Parser unit tests — modeled on the reference's layer 2
(test/Test.Main.purs:179-629): AST shapes and error goldens."""

from __future__ import annotations

import pytest

from purescript_ifrit_spark.errors import ParseError
from purescript_ifrit_spark.parser import parse_sql
from purescript_ifrit_spark.plans.ast import (
    And,
    BinaryCond,
    FieldOperand,
    FnCall,
    Group,
    LitOperand,
    Not,
    Or,
    OrderKey,
    Projection,
    Select,
)


def test_simple_select():
    assert parse_sql("SELECT age") == Select(projections=[Projection("age")])


def test_select_alias_and_fn():
    stmt = parse_sql("SELECT class AS klass, COUNT(bonus)")
    assert stmt == Select(
        projections=[
            Projection("class", alias="klass"),
            FnCall("COUNT", "bonus"),
        ]
    )


def test_parenthesized_selector():
    assert parse_sql("SELECT (a), b") == Select(
        projections=[Projection("a"), Projection("b")]
    )


def test_fn_alias():
    stmt = parse_sql("SELECT AVG(spells.power) AS power")
    assert stmt.projections == [FnCall("AVG", "spells.power", alias="power")]


def test_where_binary():
    stmt = parse_sql('SELECT name WHERE bad_guy = true')
    assert stmt.where == BinaryCond("=", FieldOperand("bad_guy"), LitOperand(True))


def test_where_and_or_binary_only():
    stmt = parse_sql("SELECT a WHERE (x > 1 AND y < 2) OR z = 3")
    assert stmt.where == Or(
        And(
            BinaryCond(">", FieldOperand("x"), LitOperand(1.0)),
            BinaryCond("<", FieldOperand("y"), LitOperand(2.0)),
        ),
        BinaryCond("=", FieldOperand("z"), LitOperand(3.0)),
    )


def test_where_chained_and_is_error():
    # AND/OR strictly binary (Parser.purs:76,82)
    with pytest.raises(ParseError):
        parse_sql("SELECT a WHERE x = 1 AND y = 2 AND z = 3")


def test_not_factor():
    stmt = parse_sql("SELECT a WHERE NOT (x = 1 OR y = 2)")
    assert isinstance(stmt.where, Not)
    assert isinstance(stmt.where.cond, Or)


def test_bare_boolean_field_predicate():
    stmt = parse_sql("SELECT a WHERE bad_guy")
    assert stmt.where == FieldOperand("bad_guy")


def test_group_by_field_and_null():
    g1 = parse_sql("SELECT AVG(age) GROUP BY class")
    assert isinstance(g1, Group) and g1.group_by == "class"
    g2 = parse_sql("SELECT AVG(age) GROUP BY NULL")
    assert isinstance(g2, Group) and g2.group_by is None


def test_order_limit_offset():
    stmt = parse_sql("SELECT a ORDER BY b DESC, c LIMIT 14 OFFSET 42")
    assert stmt.order_by == [OrderKey("b", False), OrderKey("c", True)]
    assert stmt.limit == 14 and stmt.offset == 42


def test_derived_table():
    stmt = parse_sql("SELECT AVG(power) FROM (SELECT power, age) WHERE age > 18 GROUP BY NULL")
    assert isinstance(stmt, Group)
    assert stmt.source == Select(projections=[Projection("power"), Projection("age")])
    assert stmt.where == BinaryCond(">", FieldOperand("age"), LitOperand(18.0))


def test_error_non_integer_limit():
    with pytest.raises(ParseError) as e:
        parse_sql("SELECT a LIMIT 1.5")
    assert str(e.value) == "LIMIT must be an integer at position 15"


def test_error_fn_arity():
    # FN(a, b) / FN(14) → invalid argument (Parser.purs:368-387)
    with pytest.raises(ParseError) as e:
        parse_sql("SELECT AVG(14)")
    assert "AVG has an invalid argument at position" in str(e.value)
    with pytest.raises(ParseError):
        parse_sql("SELECT AVG(a, b)")


def test_error_order_by_null():
    with pytest.raises(ParseError):
        parse_sql("SELECT a ORDER BY NULL")


def test_error_unbalanced_paren():
    with pytest.raises(ParseError) as e:
        parse_sql("SELECT a WHERE (x = 1")
    assert str(e.value) == (
        "unbalanced parenthesis expression: expected `)` but got end of input"
    )


def test_error_trailing_tokens():
    with pytest.raises(ParseError) as e:
        parse_sql("SELECT a b")
    assert str(e.value) == "unexpected token: b at position 9"


def test_error_clause_out_of_order():
    # WHERE after GROUP BY violates the strict clause order
    with pytest.raises(ParseError):
        parse_sql("SELECT a GROUP BY b WHERE c = 1")


def test_error_empty():
    with pytest.raises(ParseError):
        parse_sql("")


# -- error positions: each parser error site, after a string literal, after
# GROUP\tBY, and after an NBSP or a tab. The parser asks the token stream
# for a position only on these paths, so each golden also checks it against
# the rule-by-rule reference lexer's position for the offending token.

_POSITION_GOLDENS = [
    # (source, index of the offending token, expected message)
    ('SELECT a WHERE b = "x.y" c', 6, "unexpected token: c at position 25"),
    ("SELECT COUNT(a) GROUP\tBY 14", 6, "unexpected token: 14 at position 25"),
    ("SELECT a\xa0b", 2, "unexpected token: b at position 9"),
    (
        'SELECT a WHERE (b = "x" c', 7,
        "unbalanced parenthesis expression: expected `)` but got: c at position 24",
    ),
    (
        "SELECT COUNT(a) GROUP\tBY FINGERPRINT(t u", 9,
        "unbalanced parenthesis expression: expected `)` but got: u at position 39",
    ),
    (
        "SELECT (a\tb", 3,
        "unbalanced parenthesis expression: expected `)` but got: b at position 10",
    ),
    (
        'SELECT a WHERE b = "x" AND QUALITY(14) > 1', 9,
        "QUALITY has an invalid argument at position 35",
    ),
    (
        "SELECT COUNT(a) GROUP\tBY FINGERPRINT(t, u)", 9,
        "FINGERPRINT has an invalid argument at position 38",
    ),
    ('SELECT\xa0AVG(\t"x")', 3, "AVG has an invalid argument at position 12"),
    ('SELECT a WHERE b = "x" LIMIT 1.5', 7, "LIMIT must be an integer at position 29"),
    (
        'SELECT COUNT(a) GROUP\tBY b OFFSET "z"', 8,
        "OFFSET must be an integer at position 34",
    ),
    ("SELECT a LIMIT\xa0x", 3, "LIMIT must be an integer at position 15"),
]


@pytest.mark.parametrize("src, bad, message", _POSITION_GOLDENS)
def test_error_position_goldens(src, bad, message):
    from tests.test_lexer import reference_tokenize

    with pytest.raises(ParseError) as e:
        parse_sql(src)
    assert str(e.value) == message
    assert message.endswith(f" at position {reference_tokenize(src)[bad].pos}")
