"""Planner: Statement AST → a PySpark DataFrame over the input.

This replaces the reference's MongoDB code generator
(src/Ifrit/Driver/MongoDB.purs). A plan is rendered ONCE as Spark SQL
(plans/spark_sql.py, which carries every dialect quirk) and resolved by
one `spark.sql` call over the input (see `build`) — one JVM round trip
and one analysis per query. Catalyst then does predicate pushdown, column
pruning, partial aggregation and whole-stage codegen (SURVEY.md §4: no
custom optimizer rules needed).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from purescript_ifrit_spark.functions.dialect_ext import register_sql_functions
from purescript_ifrit_spark.plans.ast import (
    And,
    BinaryCond,
    CompatFlags,
    FnCall,
    FnOperand,
    Group,
    Not,
    Or,
    Statement,
)
from purescript_ifrit_spark.plans.spark_sql import to_spark_sql


def build(df: DataFrame, stmt: Statement, flags: CompatFlags = CompatFlags()) -> DataFrame:
    """Compile `stmt` over `df`.

    Renders the SQL first (a PlanError raises before any view exists),
    then resolves it over a fresh view name with one `spark.sql` call.

    Classic sessions analyze eagerly, so the returned DataFrame holds the
    resolved plan and the view is dropped whether or not analysis
    succeeded. The drop goes through the session catalog, not
    `spark.catalog.dropTempView`: that also uncaches every cached plan
    with the view's result, which is `df` itself, so a cached input would
    lose its cache after one query.

    Spark Connect resolves `spark.sql` text lazily, when the result runs,
    so a view dropped here would be gone by then. There the DataFrame is
    passed as a `spark.sql` keyword argument, which sends it with the
    query as a relation and registers no view; the text is escaped for
    the `str.format` pass that argument triggers (rendered regexes and
    string literals may hold braces)."""
    name = "__ifrit_" + uuid.uuid4().hex
    text = to_spark_sql(stmt, name, flags)
    spark = df.sparkSession
    register_sql_functions(spark, _fn_names(stmt))
    jsession = getattr(spark, "_jsparkSession", None)
    if jsession is None:  # Spark Connect
        return spark.sql(format_template(text, name), t=df)
    df.createOrReplaceTempView(name)
    try:
        return spark.sql(text)
    finally:
        jsession.sessionState().catalog().dropTempView(name)


def format_template(text: str, name: str) -> str:
    """`text` as a `spark.sql(..., t=df)` template: braces doubled, the
    view `name` replaced by the `{t}` field."""
    return text.replace("{", "{{").replace("}", "}}").replace(name, "{t}")


def _fn_names(stmt: Statement) -> set:
    """Names of every function the statement (and its derived tables)
    calls, read from the AST."""
    names: set = set()

    def walk(c) -> None:
        if isinstance(c, (And, Or, BinaryCond)):
            walk(c.lhs)
            walk(c.rhs)
        elif isinstance(c, Not):
            walk(c.cond)
        elif isinstance(c, FnOperand):
            names.add(c.fn)

    while stmt is not None:
        names.update(s.fn for s in stmt.projections if isinstance(s, FnCall))
        if isinstance(stmt, Group) and isinstance(stmt.group_by, FnCall):
            names.add(stmt.group_by.fn)
        walk(stmt.where)
        stmt = stmt.source
    return names
