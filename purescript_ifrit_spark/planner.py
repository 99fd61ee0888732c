"""Planner: Statement AST → PySpark DataFrame transformations.

This replaces the reference's MongoDB code generator
(src/Ifrit/Driver/MongoDB.purs) with a declarative DataFrame builder —
Catalyst then does predicate pushdown, column pruning, partial aggregation
and whole-stage codegen (SURVEY.md §4: no custom optimizer rules needed).

Semantics preserved from the reference (stage order MongoDB.purs:134-141,
153-160):

    derived table → WHERE → ORDER BY → LIMIT → OFFSET → (project | group)

Dialect quirks carried over faithfully (each with a compat flag):

- OFFSET is applied AFTER LIMIT (`$limit` then `$skip`,
  MongoDB.purs:132-141; golden Test.Main.purs:899-917) — `sane_offset=True`
  restores SQL's skip-then-take.
- In grouped statements ORDER BY/LIMIT run BEFORE the aggregation — they
  select *which rows* are aggregated (MongoDB.purs:148-160, SURVEY §2.5 O4).
- MIN/MAX over nested array fields implements the *intended* semantics
  (the reference's codegen has a latent `$sub`-vs-`$$this.sub` bug,
  MongoDB.purs:224,249 — SURVEY §2.4 B5).
- WHERE binary conditions must compare a field with a literal
  (field-vs-field rejected, MongoDB.purs:386-397 ErrCondition) —
  `allow_field_comparison=True` lifts the restriction.
- `= NULL` means MongoDB `{$eq: null}` → `isNull`; `!= NULL` → `isNotNull`.
- A bare boolean field predicate compiles to `col == true` (`{f: true}`,
  MongoDB.purs:370-374); under NOT, `col == false`.

Scale notes (100 TB design bar):

- Everything is a narrow DataFrame transformation; filters are emitted
  before projections so Catalyst pushes them into the parquet scan.
- Global aggregation (`GROUP BY NULL`) uses `groupBy().agg(...)` — Spark
  executes it as partial (map-side) + final aggregation, no single-key
  shuffle hotspot.
- ORDER BY+LIMIT compiles to Spark's TakeOrderedAndProject (no full sort).
- Per-row array aggregates are higher-order functions — JVM-side, inside
  whole-stage codegen; no Python UDFs anywhere in the dialect path.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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

NUMERIC_FNS = ("AVG", "MAX", "MIN", "SUM")


def _ext_fn(name: str):
    """Dialect extension function registry lookup (None for reference fns)."""
    from purescript_ifrit_spark.functions.dialect_ext import EXT_FUNCTIONS

    return EXT_FUNCTIONS.get(name)


def _fmt_operand(o) -> str:
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


def build(df: DataFrame, stmt: Statement, flags: CompatFlags = CompatFlags()) -> DataFrame:
    """Compile `stmt` into transformations over `df`."""
    if stmt.source is not None:
        df = build(df, stmt.source, flags)

    if stmt.where is not None:
        df = df.filter(compile_condition(stmt.where, flags))

    if stmt.order_by:
        df = df.orderBy(
            *[
                F.col(k.path).asc() if k.ascending else F.col(k.path).desc()
                for k in stmt.order_by
            ]
        )

    if flags.sane_offset:
        if stmt.offset is not None:
            df = df.offset(stmt.offset)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
    else:
        # faithful: $limit precedes $skip (MongoDB.purs:132-141)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
        if stmt.offset is not None:
            df = df.offset(stmt.offset)

    if isinstance(stmt, Select):
        # analytic extension fns (SESSIONIZE) need intermediate window
        # columns: Spark rejects a window function nested inside another
        # window aggregate in ONE expression, so each declared stage
        # becomes a projection level first. Stage columns use the same
        # window spec as the final expression — one shuffle + one sort
        # feeding chained Window operators, never an extra exchange.
        staged: dict = {}
        for sel in stmt.projections:
            if not isinstance(sel, FnCall):
                continue
            ext = _ext_fn(sel.fn)
            if ext is None or not ext.analytic or (sel.fn, sel.path) in staged:
                continue
            cols = {}
            for stage_name, builder in ext.stages:
                tmp = f"__{sel.fn.lower()}_{stage_name}_{sel.path.replace('.', '_')}"
                df = df.withColumn(tmp, builder(F.col(sel.path)))
                cols[stage_name] = F.col(tmp)
            staged[(sel.fn, sel.path)] = cols
        proj = [_projection_column(sel, staged) for sel in stmt.projections]
        if staged and stmt.order_by:
            # the analytic fn's window exchange re-partitions AFTER the
            # ORDER BY above ran, destroying presentation order (row
            # SELECTION — ORDER BY + LIMIT — already happened and is
            # unaffected). Carry the order keys through hidden columns,
            # re-sort on them, then prune: a Project over Sort preserves
            # ordering, so the user-visible order survives.
            hidden = [
                F.col(k.path).alias(f"__ifrit_ord_{i}")
                for i, k in enumerate(stmt.order_by)
            ]
            out = df.select(*proj, *hidden).orderBy(
                *[
                    F.col(f"__ifrit_ord_{i}").asc()
                    if k.ascending
                    else F.col(f"__ifrit_ord_{i}").desc()
                    for i, k in enumerate(stmt.order_by)
                ]
            )
            return out.drop(*[f"__ifrit_ord_{i}" for i in range(len(stmt.order_by))])
        return df.select(*proj)

    assert isinstance(stmt, Group)
    aggs: List[Column] = []
    for sel in stmt.projections:
        aggs.append(_aggregation_column(sel))
    if stmt.group_by is None:
        # GROUP BY NULL → one global group: partial+final agg, no shuffle key
        out = df.groupBy().agg(*aggs)
        return out.select(*[c for c in out.columns], F.lit(None).alias("_id"))
    if isinstance(stmt.group_by, FnCall):
        # engine extension: computed group key (GROUP BY FINGERPRINT(f)) —
        # the key expression evaluates in the scan stage; the shuffle hashes
        # the computed value, exactly like grouping on a stored column
        ext = _ext_fn(stmt.group_by.fn)
        if ext is None:
            raise PlanError(f"unknown function {stmt.group_by.fn}")
        if not ext.groupable:
            # lock-step with plans/spark_sql.py: a non-groupable key — CHUNK
            # (array-valued) or SESSIONIZE (window-backed) — must be
            # rejected by BOTH backends, not just the analyzer:
            # compile_unchecked reaches here without type-checking
            raise PlanError(
                f"function {stmt.group_by.fn} cannot be a GROUP BY key "
                "(not a scalar scan-stage expression)"
            )
        key = ext.column(F.col(stmt.group_by.path)).alias("_id")
        return df.groupBy(key).agg(*aggs)
    return df.groupBy(F.col(stmt.group_by).alias("_id")).agg(*aggs)


# ---------------------------------------------------------------------------
# projections (Select mode) — per-row array aggregation (SURVEY §2.4 mode B)
# ---------------------------------------------------------------------------


def _projection_column(sel, staged: Optional[dict] = None) -> Column:
    if isinstance(sel, Projection):
        return F.col(sel.path).alias(sel.output_name)

    assert isinstance(sel, FnCall)
    ext = _ext_fn(sel.fn)
    if ext is not None:
        if ext.analytic:
            # final window expression over the pre-staged columns (build())
            cols = (staged or {}).get((sel.fn, sel.path))
            if cols is None:  # pragma: no cover — build() always stages
                raise PlanError(f"{sel.fn} requires staged window columns")
            return ext.column(F.col(sel.path), cols).alias(sel.output_name)
        # extension scalar: a codegen'd Column expression over the string
        # field — evaluates in the scan stage, no Python anywhere
        return ext.column(F.col(sel.path)).alias(sel.output_name)

    if sel.fn == "COUNT":
        # COUNT applies to the array at the FULL path (the analyzer resolves
        # the whole dotted path and requires an Array there — an object-
        # nested array like a.b is legal for COUNT but not for the numeric
        # fns, whose push-down splits at the first segment).
        # $reduce-add-1 ≡ $size (MongoDB.purs:201-214)
        whole = F.col(sel.path)
        return (
            F.when(whole.isNull(), F.lit(None)).otherwise(F.size(whole))
        ).alias(sel.output_name)

    # SUM/AVG fuse the nested-path extraction INTO the aggregate lambda and
    # take size() on the BASE array (r14 optimization round, guide §1.2):
    # the former transform-then-fold shape materialized the projected array
    # once per consumer — AVG's projection evaluated transform(arr, x.sub)
    # THREE times per row (the fold plus two size() calls; HOFs are
    # CodegenFallback, so codegen subexpression elimination never rescues
    # them). size(transform(c)) ≡ size(c) (transform is 1:1 and
    # NULL-propagating) and folding s + extract(x) visits the same elements
    # in the same order with the same casts, so every value is
    # bit-identical (oracle-pinned). MIN/MAX keep the transform: array_min/
    # array_max's NULL-element skipping has no aggregate-lambda equivalent.
    parts = sel.path.split(".")
    if len(parts) == 1:
        base_arr = F.col(sel.path)

        def elem(x: Column) -> Column:
            return x

        def minmax_arr() -> Column:
            return base_arr  # plain numeric array: no projection needed

    else:
        # one-level push-down over array<struct>: extract the sub-field
        base, rest = parts[0], ".".join(parts[1:])
        base_arr = F.col(base)

        def elem(x: Column) -> Column:
            return _struct_path(x, rest)

        def minmax_arr() -> Column:
            return F.transform(base_arr, elem)

    if sel.fn == "SUM":
        col = F.aggregate(
            base_arr, F.lit(0.0), lambda s, x: s + elem(x).cast("double")
        )
    elif sel.fn == "AVG":
        total = F.aggregate(
            base_arr, F.lit(0.0), lambda s, x: s + elem(x).cast("double")
        )
        n_el = F.size(base_arr)
        col = F.when(n_el > 0, total / n_el)
    elif sel.fn == "MAX":
        col = F.array_max(minmax_arr())
    elif sel.fn == "MIN":
        col = F.array_min(minmax_arr())
    else:  # pragma: no cover
        raise PlanError(f"unknown function {sel.fn}")
    return col.alias(sel.output_name)


def _struct_path(x: Column, dotted: str) -> Column:
    for part in dotted.split("."):
        x = x[part]
    return x


# ---------------------------------------------------------------------------
# aggregations (Group mode) — SURVEY §2.4 mode A
# ---------------------------------------------------------------------------


def _aggregation_column(sel) -> Column:
    if isinstance(sel, Projection):
        # bare field in grouped SELECT → $push ≡ collect_list (MongoDB.purs:290-291)
        return F.collect_list(F.col(sel.path)).alias(sel.output_name)
    assert isinstance(sel, FnCall)
    if _ext_fn(sel.fn) is not None:
        # lock-step with analyzer._analyze_aggregation: per-row scalars are
        # not aggregations (reachable only via compile_unchecked)
        raise PlanError(f"{sel.fn} is not an aggregation function")
    c = F.col(sel.path)
    if sel.fn == "AVG":
        agg = F.avg(c)
    elif sel.fn == "SUM":
        agg = F.sum(c)
    elif sel.fn == "MIN":
        agg = F.min(c)
    elif sel.fn == "MAX":
        agg = F.max(c)
    elif sel.fn == "COUNT":
        # {$sum: 1} — row count per group, not null-skipping count(f)
        # (MongoDB.purs:296-297)
        agg = F.count(F.lit(1))
    else:  # pragma: no cover
        raise PlanError(f"unknown function {sel.fn}")
    return agg.alias(sel.output_name)


# ---------------------------------------------------------------------------
# conditions
# ---------------------------------------------------------------------------


def compile_condition(cond: Condition, flags: CompatFlags = CompatFlags()) -> Column:
    if isinstance(cond, And):
        return compile_condition(cond.lhs, flags) & compile_condition(cond.rhs, flags)
    if isinstance(cond, Or):
        return compile_condition(cond.lhs, flags) | compile_condition(cond.rhs, flags)
    if isinstance(cond, Not):
        return _compile_not(cond.cond, flags)
    if isinstance(cond, BinaryCond):
        return _compile_binary(cond, flags)
    if isinstance(cond, FieldOperand):
        # bare boolean field → {f: true} (MongoDB.purs:370-374)
        return F.col(cond.path) == F.lit(True)
    raise _err_condition(_fmt_operand(cond))


def _compile_not(cond: Condition, flags: CompatFlags) -> Column:
    """NOT. The reference rewrites via De Morgan + operator negation because
    MongoDB lacks a general `$not` (MongoDB.purs:337-345,400-444). Spark
    negates natively; the only semantic carry-over is the bare-field case:
    NOT f → {f: false} (MongoDB.purs:401-404)."""
    if isinstance(cond, FieldOperand):
        return F.col(cond.path) == F.lit(False)
    return ~compile_condition(cond, flags)


_NULL_SAFE_OPS = ("=", "!=")


def _compile_binary(cond: BinaryCond, flags: CompatFlags) -> Column:
    lhs, rhs, op = cond.lhs, cond.rhs, cond.op

    # FnOperand (engine extension, WHERE QUALITY(text) > 0.5) counts as a
    # field side: the reference's exactly-one-field restriction carries over
    lhs_field = isinstance(lhs, (FieldOperand, FnOperand))
    rhs_field = isinstance(rhs, (FieldOperand, FnOperand))
    if not flags.allow_field_comparison:
        # reference codegen restriction (MongoDB.purs:386-397): exactly one
        # side must be a field
        if lhs_field == rhs_field:
            desc = f"{_fmt_operand(lhs)} {op} {_fmt_operand(rhs)}"
            raise _err_condition(desc)

    left = _field_side(lhs) if lhs_field else _lit(lhs)
    right = _field_side(rhs) if rhs_field else _lit(rhs)

    # `= NULL` ≡ MongoDB {$eq: null} → isNull (SURVEY §2.3 F1)
    if op in _NULL_SAFE_OPS:
        null_side = None
        if isinstance(rhs, LitOperand) and rhs.value is None:
            null_side = left
        elif isinstance(lhs, LitOperand) and lhs.value is None:
            null_side = right
        if null_side is not None:
            return null_side.isNull() if op == "=" else null_side.isNotNull()

    if op == "=":
        return left == right
    if op == "!=":
        return left != right
    if op == "<":
        return left < right
    if op == ">":
        return left > right
    if op == "<=":
        return left <= right
    if op == ">=":
        return left >= right
    raise PlanError(f"unknown operator {op}")  # pragma: no cover


def _field_side(o) -> Column:
    if isinstance(o, FnOperand):
        ext = _ext_fn(o.fn)
        if ext is None:  # unchecked path (compile_unchecked)
            raise PlanError(f"unknown function {o.fn}")
        if ext.analytic:
            # lock-step with analyzer._analyze_operand: window expressions
            # are illegal in WHERE (reachable only via compile_unchecked)
            raise PlanError(f"{o.fn} cannot be used in WHERE (window function)")
        return ext.column(F.col(o.path))
    return F.col(o.path)


def _lit(o: LitOperand) -> Column:
    """Literal for a comparison side.

    The lexer stores every NUMBER as a Python float (reference parity:
    Lexer.purs has one number token; the reference's JSON data model has
    one number type). Emitting that float directly makes Spark cast the
    FIELD side to double (`cast(o_orderkey as double) > 100.0`), which
    blocks parquet predicate pushdown — at scale, a full scan instead of
    a row-group skip. An integral literal is therefore emitted as int64:
    Catalyst then widens the LITERAL (or compares natively on integral
    columns), `PushedFilters` reaches the scan, and the comparison
    matches both the SQL backend (plans/spark_sql.py `_lit` already
    renders integral floats as ints) and the DuckDB oracle's integer
    comparison. Value semantics are unchanged for every double-
    representable input — the only divergence (int64 values >= 2^53) is
    unrepresentable in the reference's own data model."""
    v = o.value
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**63:
        return F.lit(int(v))
    return F.lit(v)
