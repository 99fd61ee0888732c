"""Dialect AST — mirrors the reference's Statement/Selector/Condition ADTs
(src/Ifrit/Parser.purs:48-141).

Two statement shapes, chosen by presence of GROUP BY (Parser.purs:52-54,
split in `combine` at Parser.purs:147-164):

- Select: projection pipeline (optionally over a derived table) with
  per-row array-aggregation functions in the projection list
- Group : grouped aggregation with a single group key (field or NULL)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Union

# ---------------------------------------------------------------------------
# operands / conditions (Parser.purs:74-99)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class FieldOperand:
    path: str  # dotted path, e.g. "details.biographical.age"


@dataclass(frozen=True)
class LitOperand:
    # value is str | float | bool | None (the dialect's 4 literal shapes,
    # Lexer.purs:198-229; numbers are non-negative decimals)
    value: Union[str, float, bool, None]


@dataclass(frozen=True)
class FnOperand:
    """Engine extension: a dialect extension function applied to a field,
    used as a condition operand — `WHERE QUALITY(text) > 0.5`. Reference
    functions (AVG..SUM) stay parse errors in operand position, exactly as
    in the reference grammar; only `functions/dialect_ext.py` names parse."""

    fn: str
    path: str


Operand = Union[FieldOperand, LitOperand, FnOperand]


@dataclass(frozen=True)
class BinaryCond:
    op: str  # = != < > <= >=
    lhs: Operand
    rhs: Operand


@dataclass(frozen=True)
class And:
    # strictly binary (Parser.purs:76,82): `a AND b AND c` is a parse error
    lhs: "Condition"
    rhs: "Condition"


@dataclass(frozen=True)
class Or:
    lhs: "Condition"
    rhs: "Condition"


@dataclass(frozen=True)
class Not:
    cond: "Condition"


# a bare FieldOperand used as a predicate = boolean-field test (SURVEY §2.3 F7)
Condition = Union[BinaryCond, And, Or, Not, FieldOperand, LitOperand]


# ---------------------------------------------------------------------------
# selectors (Parser.purs:110-117, 356-387)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Projection:
    """`SELECT f [AS a]` — bare field selector."""

    path: str
    alias: Optional[str] = None

    @property
    def output_name(self) -> str:
        # default output name replaces '.' with '_' (MongoDB.purs:65-70)
        return self.alias if self.alias is not None else self.path.replace(".", "_")


@dataclass(frozen=True)
class FnCall:
    """`SELECT FN(f) [AS a]` — AVG|COUNT|MAX|MIN|SUM over a field path."""

    fn: str
    path: str
    alias: Optional[str] = None

    @property
    def output_name(self) -> str:
        return self.alias if self.alias is not None else self.path.replace(".", "_")


Selector = Union[Projection, FnCall]


@dataclass(frozen=True)
class OrderKey:
    path: str
    ascending: bool = True  # bare key defaults ASC (Parser.purs:102-105)


# ---------------------------------------------------------------------------
# statements (Parser.purs:48-54)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Select:
    projections: List[Projection | FnCall]
    source: Optional["Statement"] = None  # FROM ( sub-statement )
    where: Optional[Condition] = None
    order_by: List[OrderKey] = field(default_factory=list)
    limit: Optional[int] = None
    offset: Optional[int] = None


@dataclass(frozen=True)
class Group:
    projections: List[Projection | FnCall]
    # field path, None for GROUP BY NULL, or (engine extension) an FnCall of
    # a groupable dialect extension function: GROUP BY FINGERPRINT(text)
    group_by: Optional[Union[str, FnCall]] = None
    source: Optional["Statement"] = None
    where: Optional[Condition] = None
    order_by: List[OrderKey] = field(default_factory=list)
    limit: Optional[int] = None
    offset: Optional[int] = None


Statement = Union[Select, Group]


# ---------------------------------------------------------------------------
# compile options (both backends read them; Spark-free so compile_query
# imports no pyspark)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CompatFlags:
    """Deliberate deviations from reference quirks (SURVEY.md §7)."""

    sane_offset: bool = False  # True → SQL skip-then-take instead of $limit,$skip
    allow_field_comparison: bool = False  # lift MongoDB.purs:386-397 restriction
