"""The Spark SQL backend against an independent reference: a small Python
evaluator of the dialect subset these tests generate (WHERE on numbers,
strings and booleans, ORDER BY + LIMIT/OFFSET in the faithful and sane
orders, GROUP BY aggregates, per-row array aggregates, derived tables)
run over WIZARDS_ROWS — same quirks, same nulls, same rows."""

from __future__ import annotations

import pytest

from purescript_ifrit_spark.api import run_query
from purescript_ifrit_spark.parser import parse_sql
from purescript_ifrit_spark.planner import CompatFlags
from purescript_ifrit_spark.plans.ast import (
    And,
    BinaryCond,
    FieldOperand,
    FnCall,
    Group,
    LitOperand,
    Not,
    Or,
    Projection,
)
from purescript_ifrit_spark.plans.spark_sql import to_spark_sql
from tests.conftest import WIZARDS_ROWS, WIZARDS_SCHEMA

QUERIES = [
    "SELECT name WHERE evil = true",
    "SELECT name WHERE evil",
    "SELECT name WHERE NOT evil",
    "SELECT profile.bio.school WHERE profile.bio.age > 30",
    'SELECT name WHERE (profile.bio.age > 20 AND profile.bio.age < 40) OR profile.bio.school = "tide"',
    "SELECT name WHERE NOT (profile.bio.age > 27)",
    "SELECT name WHERE 40 < profile.bio.age",
    "SELECT name ORDER BY profile.bio.age DESC LIMIT 2",
    "SELECT name ORDER BY name LIMIT 2 OFFSET 1",
    "SELECT name ORDER BY name LIMIT 2 OFFSET 3",
    "SELECT AVG(profile.bio.age) AS avg_age GROUP BY profile.bio.school",
    "SELECT COUNT(name) AS n, SUM(profile.bio.age) AS s GROUP BY NULL",
    "SELECT name GROUP BY evil",
    "SELECT AVG(profile.bio.age) AS a GROUP BY NULL ORDER BY profile.bio.age DESC LIMIT 2",
    "SELECT name, AVG(scores) AS avg_score",
    "SELECT name, SUM(scores) AS s",
    "SELECT name, MAX(scores) AS m",
    "SELECT name, COUNT(wands) AS c",
    "SELECT name, MAX(wands.power) AS p",
    "SELECT name, AVG(wands.power) AS p",
    "SELECT AVG(p) AS avg_pow FROM (SELECT AVG(wands.power) AS p, name) WHERE p > 5 GROUP BY NULL",
    "SELECT name FROM (SELECT name, MAX(scores) AS m) WHERE m = NULL",
]


# ---------------------------------------------------------------------------
# reference evaluator (documents are dicts; SQL three-valued logic: None is
# UNKNOWN, and only rows whose condition is True survive a WHERE)
# ---------------------------------------------------------------------------


def _docs():
    return [
        {
            "name": name, "evil": evil,
            "profile": {"bio": {"age": age, "school": school},
                        "body": {"height": height}},
            "scores": scores,
            "wands": [{"wood": w, "power": p} for w, p in wands],
        }
        for name, evil, ((age, school), (height,)), scores, wands in WIZARDS_ROWS
    ]


def _get(doc, path):
    for part in path.split("."):
        if doc is None:
            return None
        doc = doc[part]
    return doc


def _operand(o, doc):
    return _get(doc, o.path) if isinstance(o, FieldOperand) else o.value


def _truth(c, doc):
    if isinstance(c, And):
        a, b = _truth(c.lhs, doc), _truth(c.rhs, doc)
        return False if False in (a, b) else (None if None in (a, b) else True)
    if isinstance(c, Or):
        a, b = _truth(c.lhs, doc), _truth(c.rhs, doc)
        return True if True in (a, b) else (None if None in (a, b) else False)
    if isinstance(c, Not):
        if isinstance(c.cond, FieldOperand):  # NOT f → f = false
            v = _get(doc, c.cond.path)
            return None if v is None else v is False
        v = _truth(c.cond, doc)
        return None if v is None else not v
    if isinstance(c, FieldOperand):  # bare boolean field → f = true
        v = _get(doc, c.path)
        return None if v is None else v is True
    assert isinstance(c, BinaryCond)
    a, b = _operand(c.lhs, doc), _operand(c.rhs, doc)
    for lit, other in ((c.rhs, a), (c.lhs, b)):
        if c.op in ("=", "!=") and isinstance(lit, LitOperand) and lit.value is None:
            return (other is None) == (c.op == "=")
    if a is None or b is None:
        return None
    return {"=": a == b, "!=": a != b, "<": a < b, ">": a > b,
            "<=": a <= b, ">=": a >= b}[c.op]


def _order(docs, keys):
    # SQL default null placement: ASC NULLS FIRST, DESC NULLS LAST
    out = list(docs)
    for k in reversed(keys):
        present = [d for d in out if _get(d, k.path) is not None]
        nulls = [d for d in out if _get(d, k.path) is None]
        present.sort(key=lambda d: _get(d, k.path), reverse=not k.ascending)
        out = nulls + present if k.ascending else present + nulls
    return out


def _array_fn(fn, doc, path):
    if fn == "COUNT":
        arr = _get(doc, path)
        return None if arr is None else len(arr)
    base, _, rest = path.partition(".")
    vals = [_get(x, rest) if rest else x for x in doc[base]]
    if fn == "SUM":
        return float(sum(vals))
    if fn == "AVG":
        return sum(vals) / len(vals) if vals else None
    return (max if fn == "MAX" else min)(vals, default=None)


def _aggregate(fn, docs, path):
    if fn == "COUNT":
        return len(docs)
    vals = [v for v in (_get(d, path) for d in docs) if v is not None]
    if not vals:
        return None
    if fn == "SUM":
        return float(sum(vals))
    if fn == "AVG":
        return sum(vals) / len(vals)
    return (max if fn == "MAX" else min)(vals)


def evaluate(stmt, docs, flags=CompatFlags()):
    """Rows (dicts by output name) of `stmt` over `docs`."""
    if stmt.source is not None:
        docs = evaluate(stmt.source, docs, flags)
    if stmt.where is not None:
        docs = [d for d in docs if _truth(stmt.where, d) is True]
    docs = _order(docs, stmt.order_by)
    lim, off = stmt.limit, stmt.offset or 0
    if flags.sane_offset:
        docs = docs[off:] if lim is None else docs[off:off + lim]
    else:
        docs = (docs if lim is None else docs[:lim])[off:]
    if not isinstance(stmt, Group):
        return [
            {s.output_name: _get(d, s.path) if isinstance(s, Projection)
             else _array_fn(s.fn, d, s.path) for s in stmt.projections}
            for d in docs
        ]
    assert not isinstance(stmt.group_by, FnCall)
    groups: dict = {}
    if stmt.group_by is None:
        groups[None] = docs  # one global group, even over no rows
    for d in docs if stmt.group_by is not None else ():
        groups.setdefault(_get(d, stmt.group_by), []).append(d)
    out = []
    for key, members in groups.items():
        row = {"_id": key}
        for s in stmt.projections:
            row[s.output_name] = (
                [v for v in (_get(d, s.path) for d in members) if v is not None]
                if isinstance(s, Projection)
                else _aggregate(s.fn, members, s.path)
            )
        out.append(row)
    return out


# ---------------------------------------------------------------------------


def _norm_row(d: dict) -> tuple:
    vals = []
    for c in sorted(d):
        v = d[c]
        if isinstance(v, list):
            vals.append(tuple(sorted(v)))
        elif isinstance(v, float):
            vals.append(round(v, 9))
        else:
            vals.append(v)
    return tuple(vals)


def _norm(df):
    return sorted((_norm_row(r.asDict()) for r in df.collect()), key=repr)


def _check(spark, wizards, sql, flags=CompatFlags()):
    got = run_query(spark, wizards, sql, schema=WIZARDS_SCHEMA, flags=flags)
    want = evaluate(parse_sql(sql), _docs(), flags)
    if want:
        assert sorted(got.columns) == sorted(want[0])
    assert _norm(got) == sorted((_norm_row(r) for r in want), key=repr), sql


@pytest.mark.parametrize("sql", QUERIES)
def test_backends_agree(spark, wizards, sql):
    _check(spark, wizards, sql)


def test_field_vs_field_rejected_in_sql_backend():
    from purescript_ifrit_spark.errors import PlanError

    stmt = parse_sql("SELECT name WHERE name = name")
    with pytest.raises(PlanError):
        to_spark_sql(stmt, "any_view")
    # lifted by the compat flag
    assert "WHERE" in to_spark_sql(
        stmt, "any_view", CompatFlags(allow_field_comparison=True)
    )


def test_nested_array_sum_avg_fold_the_sub_field():
    # SUM/AVG over a nested path fold x.sub inside aggregate() and size the
    # base array, so each row's elements are visited once; MIN/MAX keep
    # the transform, whose NULL-skipping array_min/array_max need
    from purescript_ifrit_spark.api import compile_query

    def render(sql):
        return compile_query(WIZARDS_SCHEMA, sql).to_spark_sql("w")

    fold = "aggregate(`wands`, 0D, (s, x) -> s + CAST(x.`power` AS DOUBLE))"
    assert render("SELECT SUM(wands.power) AS p") == f"SELECT {fold} AS `p` FROM `w`"
    assert render("SELECT AVG(wands.power) AS p") == (
        f"SELECT CASE WHEN size(`wands`) > 0 THEN {fold} / size(`wands`) END AS `p` FROM `w`"
    )
    assert render("SELECT MAX(wands.power) AS p") == (
        "SELECT array_max(transform(`wands`, x -> x.`power`)) AS `p` FROM `w`"
    )


def test_backend_equivalence_randomized(spark, wizards):
    """Hypothesis-style sweep without per-example Spark overhead control:
    generate statements over the wizards schema, keep the analyzable ones,
    and demand the evaluator's rows from Spark."""
    import random

    from purescript_ifrit_spark.api import compile_query
    from purescript_ifrit_spark.errors import IfritError

    rng = random.Random(20260813)
    num_fields = ["profile.bio.age", "profile.body.height"]
    str_fields = ["name", "profile.bio.school"]
    arr_fields = ["scores", "wands.power"]

    def gen_sql():
        parts = []
        mode = rng.choice(["select", "group", "arrays"])
        if mode == "arrays":
            fn = rng.choice(["AVG", "SUM", "MAX", "MIN"])
            parts.append(f"SELECT name, {fn}({rng.choice(arr_fields)}) AS v")
        elif mode == "group":
            fn = rng.choice(["AVG", "SUM", "MAX", "MIN", "COUNT"])
            parts.append(
                f"SELECT {fn}({rng.choice(num_fields)}) AS v "
                f"GROUP BY {rng.choice(str_fields + ['NULL'])}"
            )
        else:
            parts.append(f"SELECT {rng.choice(str_fields)} AS s")
        if mode != "group" and rng.random() < 0.6:
            f = rng.choice(num_fields)
            op = rng.choice(["<", ">", "<=", ">=", "=", "!="])
            parts.insert(1, f"WHERE {f} {op} {rng.randint(0, 60)}")
        if mode == "select" and rng.random() < 0.5:
            parts.append(f"ORDER BY {rng.choice(num_fields)} DESC, name ASC LIMIT {rng.randint(1, 6)}")
        # clause order: SELECT WHERE GROUP BY ORDER LIMIT — rebuild properly
        sql = parts[0]
        for p in parts[1:]:
            sql += " " + p
        return sql

    tried = 0
    for _ in range(40):
        sql = gen_sql()
        try:
            plan = compile_query(WIZARDS_SCHEMA, sql)
        except IfritError:
            continue
        tried += 1
        got = _norm(plan.apply(wizards))
        want = sorted((_norm_row(r) for r in evaluate(plan.statement, _docs())), key=repr)
        assert got == want, f"divergence for: {sql}\n{got}\nvs\n{want}"
    assert tried >= 15  # the generator must produce mostly-valid statements


def test_sane_offset_flag_backend_parity(spark, wizards):
    for sql in (
        "SELECT name ORDER BY name LIMIT 2 OFFSET 1",
        "SELECT name ORDER BY profile.bio.age DESC, name ASC LIMIT 3 OFFSET 2",
    ):
        _check(spark, wizards, sql, CompatFlags(sane_offset=True))
        _check(spark, wizards, sql)
