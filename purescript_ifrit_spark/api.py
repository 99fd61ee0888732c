"""Public API — the equivalent of the reference's `Ifrit.compile.mongodb`
(dist/index.js:23-30) and `Core.compile` (src/Ifrit/Core.purs:30-37).

The reference pipeline is: schema decode → tokenize → parse → analyze →
generate MongoDB stages. Ours is identical until the last step, which
renders one Spark SQL query instead and resolves it over the input:

    compile_query(schema, sql)  -> IfritPlan   (pure, no Spark needed)
    plan.apply(df)              -> DataFrame   (one spark.sql call; Catalyst optimizes)
    run_query(spark, df|name, sql, schema=None) -> DataFrame

Any compile-time failure raises IfritError with the reference's message
shapes (string errors in the reference's Either chain). Compiling imports no
pyspark: the planner (and Spark) load when a plan is applied.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any, Optional, Union

from purescript_ifrit_spark import analyzer, lexer, parser
from purescript_ifrit_spark.plans.ast import CompatFlags, Statement
from purescript_ifrit_spark.schema import Schema, schema_from_json, schema_from_struct

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class IfritPlan:
    """A compiled query: validated AST + derived output schema."""

    statement: Statement
    input_schema: Schema
    output_schema: Schema
    flags: CompatFlags = field(default_factory=CompatFlags)

    def apply(self, df: DataFrame) -> DataFrame:
        """Materialize the plan over a DataFrame (lazy — no action run):
        the `to_spark_sql` text over `df`, resolved by one spark.sql call
        (planner.build; a cached `df` stays cached)."""
        from purescript_ifrit_spark import planner

        return planner.build(df, self.statement, self.flags)

    def to_spark_sql(self, table: str) -> str:
        """The Spark SQL text `apply` runs, rendered over a view name — for
        inspection, EXPLAIN, or SQL-first tooling. Text that calls
        IMAGE_DHASH or NFC needs `functions.dialect_ext.
        register_sql_functions(spark)` before a hand-run spark.sql."""
        from purescript_ifrit_spark.plans.spark_sql import to_spark_sql

        return to_spark_sql(self.statement, table, self.flags)

    def to_sql(self) -> str:
        """Pretty-print back to dialect SQL (round-trips through the parser)."""
        from purescript_ifrit_spark.plans.printer import to_sql

        return to_sql(self.statement)


def compile_query(
    schema: Union[Schema, dict, str],
    sql: str,
    flags: CompatFlags = CompatFlags(),
) -> IfritPlan:
    """schema decode → tokenize → parse → analyze → plan (Core.purs:30-37).

    `schema` is a Schema, a JSON-schema dict (reference declarative syntax,
    README.md §"Schema definition"), or a JSON string of one.
    """
    if isinstance(schema, str):
        import json

        schema = schema_from_json(json.loads(schema))
    elif isinstance(schema, dict):
        schema = schema_from_json(schema)
    tokens = lexer.tokenize(sql)
    stmt = parser.parse(tokens)
    out = analyzer.analyze(schema, stmt)
    return IfritPlan(statement=stmt, input_schema=schema, output_schema=out, flags=flags)


def compile_unchecked(
    sql: str,
    flags: CompatFlags = CompatFlags(),
) -> IfritPlan:
    """Tokenize + parse + plan WITHOUT semantic analysis — the reference's
    test-harness entry point (test/Test.Main.purs:26-30, SURVEY §3 EP3):
    codegen is name-directed and does not need the schema; the analyzer is a
    separable gate. Runtime errors surface from Spark instead (unresolved
    columns etc.)."""
    tokens = lexer.tokenize(sql)
    stmt = parser.parse(tokens)
    null_obj = Schema.object({})
    return IfritPlan(
        statement=stmt, input_schema=null_obj, output_schema=null_obj, flags=flags
    )


def run_query(
    spark: SparkSession,
    source: Union[DataFrame, str],
    sql: str,
    schema: Optional[Union[Schema, dict, str]] = None,
    flags: CompatFlags = CompatFlags(),
) -> DataFrame:
    """Compile + apply in one step.

    `source` is a DataFrame or a table/view name. When `schema` is omitted it
    is derived from the DataFrame's own Spark schema (engine extension —
    the reference always requires an explicit schema, which remains the
    security-allowlist mode)."""
    df = spark.table(source) if isinstance(source, str) else source
    eff_schema: Any = schema if schema is not None else schema_from_struct(df.schema)
    plan = compile_query(eff_schema, sql, flags)
    return plan.apply(df)
