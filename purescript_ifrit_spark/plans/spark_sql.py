"""Alternative backend: AST → Spark SQL string (for spark.sql()).

The DataFrame builder (planner.py) is the primary backend; this emitter is
the debugging/interop surface SURVEY §3 notes as "trivially exposable": the
same dialect semantics rendered as one nested ANSI-ish query, so users can
inspect, EXPLAIN, or embed the compiled form in SQL-first tooling.

Quirk encodings (must stay in lock-step with planner.py):
- stage order: WHERE → ORDER BY → LIMIT → OFFSET → (project | group),
  each as a nesting level only when needed
- faithful OFFSET-after-LIMIT needs two levels (inner ORDER BY+LIMIT,
  outer re-ORDER BY+OFFSET — outer re-sort keeps row selection
  deterministic); `sane_offset` collapses to one `LIMIT n OFFSET m`
- per-row array aggregates render as higher-order-function SQL
- `= NULL` → IS NULL; bare boolean field → `f = true`
"""

from __future__ import annotations

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

NUMERIC_FNS = ("AVG", "MAX", "MIN", "SUM")


def _ident(path: str) -> str:
    return ".".join(f"`{p}`" for p in path.split("."))


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return str(int(v)) if v.is_integer() else repr(v)
    if isinstance(v, int):
        # programmatic ASTs may carry raw ints; render numerically like
        # planner's F.lit, not as a quoted string
        return str(v)
    # escape backslashes BEFORE quotes: Spark's default string literals are
    # C-style, so an unescaped backslash would be re-interpreted
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


def _operand(o) -> str:
    if isinstance(o, FieldOperand):
        return _ident(o.path)
    if isinstance(o, FnOperand):
        ext = _ext_fn(o.fn)
        if ext is None:  # unchecked path parity with the planner
            from purescript_ifrit_spark.errors import PlanError

            raise PlanError(f"unknown function {o.fn}")
        if ext.analytic:  # lock-step with planner._field_side
            from purescript_ifrit_spark.errors import PlanError

            raise PlanError(f"{o.fn} cannot be used in WHERE (window function)")
        return ext.sql(_ident(o.path))
    return _lit(o.value)


def _cond(c: Condition, flags: CompatFlags = CompatFlags()) -> str:
    if isinstance(c, Or):
        return f"({_cond(c.lhs, flags)} OR {_cond(c.rhs, flags)})"
    if isinstance(c, And):
        return f"({_cond(c.lhs, flags)} AND {_cond(c.rhs, flags)})"
    if isinstance(c, Not):
        if isinstance(c.cond, FieldOperand):
            return f"{_ident(c.cond.path)} = false"
        return f"(NOT ({_cond(c.cond, flags)}))"
    if isinstance(c, BinaryCond):
        lhs, rhs, op = c.lhs, c.rhs, c.op
        # lock-step with planner._compile_binary: exactly one side must be
        # a field unless the compat flag lifts the restriction
        if not flags.allow_field_comparison:
            lhs_field = isinstance(lhs, (FieldOperand, FnOperand))
            if lhs_field == isinstance(rhs, (FieldOperand, FnOperand)):
                from purescript_ifrit_spark.errors import PlanError

                raise PlanError(
                    f"invalid condition: {_operand(lhs)} {op} {_operand(rhs)}"
                    ": should target a field of the document"
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
    raise ValueError(f"unrenderable condition {c!r}")


def _ext_fn(name: str):
    from purescript_ifrit_spark.functions.dialect_ext import EXT_FUNCTIONS

    return EXT_FUNCTIONS.get(name)


def _array_expr(sel: FnCall) -> str:
    ext = _ext_fn(sel.fn)
    if ext is not None:
        # extension scalar — SQL twin generated by the same registry the
        # planner uses (functions/dialect_ext.py), equivalence-tested
        return ext.sql(_ident(sel.path))
    if sel.fn == "COUNT":
        # full-path array (see planner._projection_column: COUNT accepts an
        # object-nested array, numeric fns push down at the first segment)
        whole = _ident(sel.path)
        return f"CASE WHEN {whole} IS NULL THEN NULL ELSE size({whole}) END"
    parts = sel.path.split(".")
    if len(parts) == 1:
        arr = _ident(sel.path)
    else:
        sub = ".".join(f"`{p}`" for p in parts[1:])
        arr = f"transform({_ident(parts[0])}, x -> x.{sub})"
    if sel.fn == "SUM":
        return f"aggregate({arr}, 0D, (s, x) -> s + CAST(x AS DOUBLE))"
    if sel.fn == "AVG":
        total = f"aggregate({arr}, 0D, (s, x) -> s + CAST(x AS DOUBLE))"
        return f"CASE WHEN size({arr}) > 0 THEN {total} / size({arr}) END"
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
        # to_spark_sql's extra subquery level (lock-step with planner)
        cols = (staged or {}).get((sel.fn, sel.path))
        if cols is None:  # pragma: no cover — to_spark_sql always stages
            from purescript_ifrit_spark.errors import PlanError

            raise PlanError(f"{sel.fn} requires staged window columns")
        return f"{ext.sql(_ident(sel.path), cols)} AS `{sel.output_name}`"
    return f"{_array_expr(sel)} AS `{sel.output_name}`"


def _aggregation_sql(sel) -> str:
    if isinstance(sel, Projection):
        return f"collect_list({_ident(sel.path)}) AS `{sel.output_name}`"
    assert isinstance(sel, FnCall)
    if _ext_fn(sel.fn) is not None:
        from purescript_ifrit_spark.errors import PlanError

        # lock-step with planner._aggregation_column
        raise PlanError(f"{sel.fn} is not an aggregation function")
    if sel.fn == "COUNT":
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
        # analytic extension fns need their stage columns one subquery
        # level down (same reason as the planner's withColumn staging:
        # no window-inside-window in one expression)
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
            # lock-step with planner.build: the window exchange destroys
            # the inner subquery's ORDER BY; re-establish it on the final
            # SELECT. Order by HIDDEN aliases of the source keys staged one
            # level down (not the bare names): SQL resolution prefers a
            # select-list alias, so `SELECT SESSIONIZE(ts) AS ts ORDER BY
            # ts` would otherwise sort by the session id while the planner
            # sorts by the source column (ADVICE r3).
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
        return f"SELECT {aggs}, NULL AS `_id` FROM {rel}"
    if isinstance(stmt.group_by, FnCall):
        ext = _ext_fn(stmt.group_by.fn)
        if ext is None or not ext.groupable:
            from purescript_ifrit_spark.errors import PlanError

            if ext is not None:
                raise PlanError(
                    f"function {stmt.group_by.fn} cannot be a GROUP BY key "
                    "(not a scalar scan-stage expression)"
                )
            raise PlanError(f"unknown function {stmt.group_by.fn}")
        key = ext.sql(_ident(stmt.group_by.path))
    else:
        key = _ident(stmt.group_by)
    return f"SELECT {aggs}, {key} AS `_id` FROM {rel} GROUP BY {key}"
