"""The dialect backend: AST → one Spark SQL query.

`planner.build` renders every plan here, over a temp view of the input
DataFrame, and resolves it with one `spark.sql` call; this module is the
only place where dialect semantics become Spark. `IfritPlan.to_spark_sql`
exposes the same text, so users can inspect, EXPLAIN, or embed the
compiled form in SQL-first tooling.

Semantics preserved from the reference (stage order MongoDB.purs:134-141,
153-160):

    derived table → WHERE → ORDER BY → LIMIT → OFFSET → (project | group)

each stage a nesting level only when needed. Dialect quirks carried over
faithfully (each with a compat flag where the reference had a bug or a
restriction):

- OFFSET is applied AFTER LIMIT (`$limit` then `$skip`,
  MongoDB.purs:132-141; golden Test.Main.purs:899-917): an inner
  ORDER BY+LIMIT level, then an outer re-ORDER BY+OFFSET level (the outer
  re-sort keeps row selection deterministic). `sane_offset=True` restores
  SQL's skip-then-take as one `LIMIT n OFFSET m`.
- In grouped statements ORDER BY/LIMIT run BEFORE the aggregation — they
  select *which rows* are aggregated (MongoDB.purs:148-160, SURVEY §2.5 O4).
- MIN/MAX over nested array fields implements the *intended* semantics
  (the reference's codegen has a latent `$sub`-vs-`$$this.sub` bug,
  MongoDB.purs:224,249 — SURVEY §2.4 B5).
- WHERE binary conditions must compare a field with a literal
  (field-vs-field rejected, MongoDB.purs:386-397 ErrCondition) —
  `allow_field_comparison=True` lifts the restriction.
- `= NULL` means MongoDB `{$eq: null}` → `IS NULL`; `!= NULL` → `IS NOT NULL`.
- A bare boolean field predicate compiles to `f = true` (`{f: true}`,
  MongoDB.purs:370-374); under NOT, `f = false`.

Scale notes (100 TB design bar):

- Filters sit below projections, so Catalyst pushes them into the parquet
  scan; integral literals render as integers (see `_lit`) so the pushdown
  survives.
- Global aggregation (`GROUP BY NULL`) is an aggregate with no grouping
  key — partial (map-side) + final aggregation, no single-key shuffle
  hotspot.
- ORDER BY+LIMIT becomes Spark's TakeOrderedAndProject (no full sort).
- Per-row array aggregates are higher-order functions — JVM-side; no
  Python UDFs in the dialect path except the two documented pandas_udf
  extension functions (functions/dialect_ext.py).
"""

from __future__ import annotations

import math

from purescript_ifrit_spark.errors import PlanError
from purescript_ifrit_spark.plans.ast import (
    And,
    BinaryCond,
    CompatFlags,
    Condition,
    FieldOperand,
    FnCall,
    FnOperand,
    Group,
    LitOperand,
    Not,
    Or,
    Projection,
    Select,
    Statement,
)


def _ident(path: str) -> str:
    return ".".join(f"`{p}`" for p in path.split("."))


def _lit(v) -> str:
    """A literal as Spark SQL text.

    The lexer stores every NUMBER as a Python float (reference parity:
    Lexer.purs has one number token; the reference's JSON data model has
    one number type). Rendering an integral float as `100.0` would make
    Spark cast the FIELD side (`cast(o_orderkey as double) > 100.0`),
    which blocks parquet predicate pushdown — at scale, a full scan
    instead of a row-group skip. An integral value therefore renders as
    an integer: Catalyst widens the LITERAL (or compares natively on
    integral columns), `PushedFilters` reaches the scan, and the
    comparison matches the DuckDB oracle's integer comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # beyond int64 an integer literal would be a DECIMAL wider than
        # Spark's 38 digits; repr() (e.g. 1e+39) reads back as a DOUBLE.
        # A number too long for a float lexes as inf
        if v.is_integer() and abs(v) < 2**63:
            return str(int(v))
        return repr(v) if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, int):
        # programmatic ASTs may carry raw ints: render numerically
        return str(v)
    # escape backslashes BEFORE quotes: Spark's default string literals are
    # C-style, so an unescaped backslash would be re-interpreted
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


def _fmt_operand(o) -> str:
    """An operand in dialect notation, for error messages."""
    if isinstance(o, FieldOperand):
        return o.path
    if isinstance(o, FnOperand):
        return f"{o.fn}({o.path})"
    v = o.value
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return str(int(v)) if v.is_integer() else str(v)
    return f'"{v}"'


def _err_condition(desc: str) -> PlanError:
    # parity with MongoDB.purs:467-471
    return PlanError(
        f"invalid condition: {desc}: should target a field of the document"
    )


def _operand(o) -> str:
    if isinstance(o, FieldOperand):
        return _ident(o.path)
    if isinstance(o, FnOperand):
        ext = _ext_fn(o.fn)
        if ext is None:  # unchecked path (compile_unchecked)
            raise PlanError(f"unknown function {o.fn}")
        if ext.analytic:
            # analyzer._analyze_operand rejects this too; compile_unchecked
            # skips the analyzer
            raise PlanError(f"{o.fn} cannot be used in WHERE (window function)")
        return ext.sql(_ident(o.path))
    return _lit(o.value)


def _cond(c: Condition, flags: CompatFlags = CompatFlags()) -> str:
    if isinstance(c, Or):
        return f"({_cond(c.lhs, flags)} OR {_cond(c.rhs, flags)})"
    if isinstance(c, And):
        return f"({_cond(c.lhs, flags)} AND {_cond(c.rhs, flags)})"
    if isinstance(c, Not):
        # the reference rewrites NOT via De Morgan (MongoDB lacks a general
        # $not, MongoDB.purs:337-345,400-444); SQL negates natively. The
        # one carry-over: NOT f → {f: false} (MongoDB.purs:401-404)
        if isinstance(c.cond, FieldOperand):
            return f"{_ident(c.cond.path)} = false"
        return f"(NOT ({_cond(c.cond, flags)}))"
    if isinstance(c, BinaryCond):
        lhs, rhs, op = c.lhs, c.rhs, c.op
        # an FnOperand (WHERE QUALITY(text) > 0.5) counts as a field side:
        # exactly one side must be a field (MongoDB.purs:386-397) unless
        # the compat flag lifts the restriction
        if not flags.allow_field_comparison:
            lhs_field = isinstance(lhs, (FieldOperand, FnOperand))
            if lhs_field == isinstance(rhs, (FieldOperand, FnOperand)):
                raise _err_condition(
                    f"{_fmt_operand(lhs)} {op} {_fmt_operand(rhs)}"
                )
        if op in ("=", "!="):
            if isinstance(rhs, LitOperand) and rhs.value is None:
                null_test = "IS NULL" if op == "=" else "IS NOT NULL"
                return f"{_operand(lhs)} {null_test}"
            if isinstance(lhs, LitOperand) and lhs.value is None:
                null_test = "IS NULL" if op == "=" else "IS NOT NULL"
                return f"{_operand(rhs)} {null_test}"
        sql_op = "<>" if op == "!=" else op
        return f"{_operand(lhs)} {sql_op} {_operand(rhs)}"
    if isinstance(c, FieldOperand):
        return f"{_ident(c.path)} = true"
    raise _err_condition(_fmt_operand(c))


def _ext_fn(name: str):
    """Dialect extension function registry lookup (None for reference fns)."""
    from purescript_ifrit_spark.functions.dialect_ext import EXT_FUNCTIONS

    return EXT_FUNCTIONS.get(name)


def _array_expr(sel: FnCall) -> str:
    ext = _ext_fn(sel.fn)
    if ext is not None:
        # extension scalar: a scan-stage expression over the field
        return ext.sql(_ident(sel.path))
    if sel.fn == "COUNT":
        # COUNT sizes the array at the FULL path (the analyzer accepts an
        # object-nested array like a.b for COUNT; the numeric fns push down
        # at the first segment). $reduce-add-1 ≡ $size (MongoDB.purs:201-214)
        whole = _ident(sel.path)
        return f"CASE WHEN {whole} IS NULL THEN NULL ELSE size({whole}) END"
    # SUM/AVG fold the sub-field extraction INTO the aggregate lambda and
    # take size() of the BASE array: over transform(items, x -> x.qty),
    # AVG would evaluate the transform three times per row (the fold and
    # two size() calls; higher-order functions are CodegenFallback, so
    # subexpression elimination never shares them). size(transform(c)) ≡
    # size(c), and the fold visits the same elements in the same order
    # with the same casts, so values are bit-identical. MIN/MAX keep the
    # transform: array_min/array_max skip NULL elements, which a fold
    # lambda would not.
    parts = sel.path.split(".")
    base = _ident(parts[0])
    if len(parts) == 1:
        elem, arr = "x", base
    else:
        # one-level push-down over array<struct>: extract the sub-field
        elem = "x." + ".".join(f"`{p}`" for p in parts[1:])
        arr = f"transform({base}, x -> {elem})"
    total = f"aggregate({base}, 0D, (s, x) -> s + CAST({elem} AS DOUBLE))"
    if sel.fn == "SUM":
        return total
    if sel.fn == "AVG":
        return f"CASE WHEN size({base}) > 0 THEN {total} / size({base}) END"
    if sel.fn == "MAX":
        return f"array_max({arr})"
    return f"array_min({arr})"


def _projection_sql(sel, staged=None) -> str:
    if isinstance(sel, Projection):
        return f"{_ident(sel.path)} AS `{sel.output_name}`"
    assert isinstance(sel, FnCall)
    ext = _ext_fn(sel.fn)
    if ext is not None and ext.analytic:
        # final window expression over the stage columns added by
        # to_spark_sql's extra subquery level
        cols = (staged or {}).get((sel.fn, sel.path))
        if cols is None:  # pragma: no cover — to_spark_sql always stages
            raise PlanError(f"{sel.fn} requires staged window columns")
        return f"{ext.sql(_ident(sel.path), cols)} AS `{sel.output_name}`"
    return f"{_array_expr(sel)} AS `{sel.output_name}`"


def _aggregation_sql(sel) -> str:
    if isinstance(sel, Projection):
        # bare field in grouped SELECT → $push ≡ collect_list (MongoDB.purs:290-291)
        return f"collect_list({_ident(sel.path)}) AS `{sel.output_name}`"
    assert isinstance(sel, FnCall)
    if _ext_fn(sel.fn) is not None:
        # analyzer._analyze_aggregation rejects this too: per-row scalars
        # are not aggregations (reachable only via compile_unchecked)
        raise PlanError(f"{sel.fn} is not an aggregation function")
    if sel.fn == "COUNT":
        # {$sum: 1} — row count per group, not null-skipping count(f)
        # (MongoDB.purs:296-297)
        return f"COUNT(1) AS `{sel.output_name}`"
    return f"{sel.fn}({_ident(sel.path)}) AS `{sel.output_name}`"


def to_spark_sql(
    stmt: Statement, table: str, flags: CompatFlags = CompatFlags()
) -> str:
    """Render `stmt` over `table` (a view/table name) as a Spark SQL query."""
    rel = (
        f"({to_spark_sql(stmt.source, table, flags)})"
        if stmt.source is not None
        else f"`{table}`"
    )

    if stmt.where is not None:
        rel = f"(SELECT * FROM {rel} WHERE {_cond(stmt.where, flags)})"

    order_sql = ", ".join(
        f"{_ident(k.path)} {'ASC' if k.ascending else 'DESC'}" for k in stmt.order_by
    )
    if stmt.order_by or stmt.limit is not None or stmt.offset is not None:
        inner = f"SELECT * FROM {rel}"
        if order_sql:
            inner += f" ORDER BY {order_sql}"
        if flags.sane_offset:
            if stmt.limit is not None:
                inner += f" LIMIT {stmt.limit}"
            if stmt.offset is not None:
                inner += f" OFFSET {stmt.offset}"
            rel = f"({inner})"
        else:
            if stmt.limit is not None:
                inner += f" LIMIT {stmt.limit}"
            rel = f"({inner})"
            if stmt.offset is not None:
                outer = f"SELECT * FROM {rel}"
                if order_sql:
                    outer += f" ORDER BY {order_sql}"
                outer += f" OFFSET {stmt.offset}"
                rel = f"({outer})"

    if isinstance(stmt, Select):
        # analytic extension fns (SESSIONIZE) need their stage columns one
        # subquery level down: Spark rejects a window function nested
        # inside another window aggregate in one expression. Stage columns
        # use the same window spec as the final expression — one shuffle +
        # one sort feeding chained Window operators, never an extra exchange
        staged: dict = {}
        pre = []
        for s in stmt.projections:
            if not isinstance(s, FnCall):
                continue
            ext = _ext_fn(s.fn)
            if ext is None or not ext.analytic or (s.fn, s.path) in staged:
                continue
            cols = {}
            for stage_name, renderer in ext.stages_sql:
                tmp = f"__{s.fn.lower()}_{stage_name}_{s.path.replace('.', '_')}"
                pre.append(f"{renderer(_ident(s.path))} AS `{tmp}`")
                cols[stage_name] = tmp
            staged[(s.fn, s.path)] = cols
        hidden_ord = []
        if staged and order_sql:
            # the window exchange destroys the inner subquery's ORDER BY
            # (row SELECTION — ORDER BY + LIMIT — already happened and is
            # unaffected); re-establish presentation order on the final
            # SELECT. Order by HIDDEN aliases of the source keys staged one
            # level down (not the bare names): SQL resolution prefers a
            # select-list alias, so `SELECT SESSIONIZE(ts) AS ts ORDER BY
            # ts` would otherwise sort by the session id (ADVICE r3).
            for i, k in enumerate(stmt.order_by):
                tmp = f"__ifrit_ord_{i}"
                pre.append(f"{_ident(k.path)} AS `{tmp}`")
                hidden_ord.append(f"`{tmp}` {'ASC' if k.ascending else 'DESC'}")
        if pre:
            rel = f"(SELECT *, {', '.join(pre)} FROM {rel})"
        cols_sql = ", ".join(_projection_sql(s, staged) for s in stmt.projections)
        if hidden_ord:
            return f"SELECT {cols_sql} FROM {rel} ORDER BY {', '.join(hidden_ord)}"
        return f"SELECT {cols_sql} FROM {rel}"

    assert isinstance(stmt, Group)
    aggs = ", ".join(_aggregation_sql(s) for s in stmt.projections)
    if stmt.group_by is None:
        # GROUP BY NULL → one global group: partial+final agg, no shuffle key
        return f"SELECT {aggs}, NULL AS `_id` FROM {rel}"
    if isinstance(stmt.group_by, FnCall):
        # engine extension: computed group key (GROUP BY FINGERPRINT(f)) —
        # the key evaluates in the scan stage; the shuffle hashes the
        # computed value, exactly like grouping on a stored column
        ext = _ext_fn(stmt.group_by.fn)
        if ext is None:
            raise PlanError(f"unknown function {stmt.group_by.fn}")
        if not ext.groupable:
            # CHUNK (array-valued) and SESSIONIZE (window-backed) are no
            # scan-stage scalar key; the analyzer rejects them too, but
            # compile_unchecked reaches here without type-checking
            raise PlanError(
                f"function {stmt.group_by.fn} cannot be a GROUP BY key "
                "(not a scalar scan-stage expression)"
            )
        key = ext.sql(_ident(stmt.group_by.path))
    else:
        key = _ident(stmt.group_by)
    return f"SELECT {aggs}, {key} AS `_id` FROM {rel} GROUP BY {key}"
