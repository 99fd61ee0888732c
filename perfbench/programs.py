"""Seeded dialect programs for the `compile` workload.

Every program is generated against the reference benchmark schema
(test/benchmark.js: `age`, `class`, `is_master`, `bonus[]`,
`spells[{power}]`) and is valid by construction. The generator tracks the
schema each clause sees, so every program carries the output fields and
types the analyzer must derive: that expectation is the workload's oracle,
computed here without calling the package.

Size varies along the three axes the compile path depends on: number of
select items, predicate depth, and `FROM (subquery)` nesting.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SCHEMA = {
    "age": "number",
    "class": "string",
    "is_master": "boolean",
    "bonus": ["number"],
    "spells": [{"power": "number"}],
}

# the five shapes of the reference's test/benchmark.js, with their outputs
REFERENCE_SHAPES = (
    ("SELECT age", {"age": "number"}),
    ("SELECT class AS klass, COUNT(bonus)", {"klass": "string", "bonus": "number"}),
    ("SELECT AVG(age) GROUP BY class", {"age": "number", "_id": "string"}),
    ("SELECT is_master WHERE (age > 14 AND age < 20)", {"is_master": "boolean"}),
    (
        "SELECT AVG(power) AS avg_pow FROM "
        "(SELECT AVG(spells.power) AS power, age) WHERE age > 18 GROUP BY NULL",
        {"avg_pow": "number", "_id": "null"},
    ),
)

NUMERIC_FNS = ("AVG", "SUM", "MIN", "MAX")
STRINGS = ("wizard", "mage", "sorcerer", "bard", "druid")
# (select items, predicate depth, subquery nesting) ranges per size class
SIZES = {
    "small": ((1, 2), (0, 1), (0, 0)),
    "medium": ((2, 5), (1, 3), (0, 1)),
    "large": ((5, 10), (3, 5), (1, 3)),
}
# programs per size class: 1,010 with the reference shapes, enough for a
# p99 with ten samples beyond it in one pass
PER_SIZE = 335


@dataclass(frozen=True)
class Program:
    sql: str
    expected: tuple  # ((name, type-json), ...) in output order
    size: str


def _is_number_array(t) -> bool:
    return isinstance(t, list) and t[0] == "number"


def _object_array_numbers(t):
    if isinstance(t, list) and isinstance(t[0], dict):
        return [k for k, v in t[0].items() if v == "number"]
    return []


class _Gen:
    """`rng` picks a program's content (fields, functions, operators,
    literals); `shape` picks its size (item count, predicate depth and
    branching, which clauses appear). `shape` is seeded by the program's
    place in its size class alone, so the mix of work is the same under
    every seed and only the content and order change."""

    def __init__(self, rng: random.Random, shape: random.Random):
        self.rng = rng
        self.shape = shape
        self.n_alias = 0

    def alias(self) -> str:
        self.n_alias += 1
        return f"out{self.n_alias}"

    # -- predicates ---------------------------------------------------------

    def leaf(self, schema: dict) -> str:
        rng = self.rng
        name = rng.choice(list(schema))
        t = schema[name]
        if t == "number":
            op = rng.choice(("<", ">", "<=", ">=", "=", "!="))
            lit = rng.choice((str(rng.randint(0, 99)), f"{rng.randint(0, 99)}.5"))
            return f"{lit} {op} {name}" if rng.random() < 0.2 else f"{name} {op} {lit}"
        if t == "string" and rng.random() < 0.7:
            return f'{name} {rng.choice(("=", "!="))} "{rng.choice(STRINGS)}"'
        if t == "boolean" and rng.random() < 0.7:
            return rng.choice((name, f"{name} = true", f"{name} != false", f"NOT {name}"))
        return f"{name} {rng.choice(('=', '!='))} NULL"

    def condition(self, schema: dict, depth: int) -> str:
        if depth == 0:
            return self.leaf(schema)
        if self.shape.random() < 0.15:
            return f"NOT ({self.condition(schema, depth - 1)})"
        lhs = self.condition(schema, depth - 1)
        rhs = self.condition(schema, self.shape.randint(0, depth - 1))
        return f"({lhs}) {self.rng.choice(('AND', 'OR'))} ({rhs})"

    # -- select lists -------------------------------------------------------

    def projection_item(self, schema: dict):
        """(selector text, default output name, output type) in select mode."""
        rng = self.rng
        options = []
        for name, t in schema.items():
            options.append((name, name, t))
            if isinstance(t, list):
                options.append((f"COUNT({name})", name, "number"))
            if _is_number_array(t):
                fn = rng.choice(NUMERIC_FNS)
                options.append((f"{fn}({name})", name, "number"))
            for sub in _object_array_numbers(t):
                fn = rng.choice(NUMERIC_FNS)
                options.append((f"{fn}({name}.{sub})", f"{name}_{sub}", "number"))
        return rng.choice(options)

    def group_item(self, schema: dict):
        rng = self.rng
        options = []
        for name, t in schema.items():
            if name == "_id":
                continue  # reserved in grouped statements
            options.append((name, name, [t]))
            options.append((f"COUNT({name})", name, "number"))
            if t == "number":
                options.append((f"{rng.choice(NUMERIC_FNS)}({name})", name, "number"))
        return rng.choice(options) if options else None

    def statement(self, schema: dict, items: tuple, depth: tuple, nesting: int):
        rng, shape = self.rng, self.shape
        source_sql = None
        if nesting > 0:
            source_sql, schema = self.statement(schema, items, depth, nesting - 1)
        keys = [k for k, t in schema.items() if t in ("number", "string", "boolean")]
        # every shape draw is made whatever the content, so that the shape
        # stream, and with it the program's size, is the same under every seed
        grouped = shape.random() < 0.3
        aliased = [shape.random() < 0.25 for _ in range(shape.randint(*items))]
        d = shape.randint(*depth)
        where = shape.random() < 0.5 or d > 0
        keyed, ordered, limited, offset = (shape.random() < p for p in (0.7, 0.3, 0.3, 0.5))
        grouped = grouped and any(k != "_id" for k in schema)
        out, selectors = {}, []
        for alias in aliased:
            item = self.group_item(schema) if grouped else self.projection_item(schema)
            text, name, t = item
            if name in out or name == "_id" or alias:
                name = self.alias()
                text = f"{text} AS {name}"
            out[name] = t
            selectors.append(text)
        sql = "SELECT " + ", ".join(selectors)
        if source_sql is not None:
            sql += f" FROM ({source_sql})"
        if where:
            sql += f" WHERE {self.condition(schema, d)}"
        if grouped:
            if keys and keyed:
                key = rng.choice(keys)
                sql += f" GROUP BY {key}"
                out["_id"] = schema[key]
            else:
                sql += " GROUP BY NULL"
                out["_id"] = "null"
        if keys and ordered:
            order = [f"{k} {rng.choice(('ASC', 'DESC'))}" for k in rng.sample(keys, min(len(keys), 2))]
            sql += " ORDER BY " + ", ".join(order)
        if limited:
            sql += f" LIMIT {rng.randint(1, 500)}"
            if offset:
                sql += f" OFFSET {rng.randint(1, 50)}"
        return sql, out


def generate(seed: int) -> list:
    """The reference's five shapes plus `PER_SIZE` seeded programs of each
    size class, in a seeded order. The same seed always gives the same
    list; equal class counts keep the mix of work the same across seeds."""
    rng = random.Random(f"compile-programs:{seed}")
    progs = [Program(sql, tuple(out.items()), "reference") for sql, out in REFERENCE_SHAPES]
    for size, (items, depth, nesting) in SIZES.items():
        for j in range(PER_SIZE):
            shape = random.Random(f"compile-shapes:{size}:{j}")
            sql, out = _Gen(rng, shape).statement(dict(SCHEMA), items, depth,
                                                   shape.randint(*nesting))
            progs.append(Program(sql, tuple(out.items()), size))
    rng.shuffle(progs)
    return progs
