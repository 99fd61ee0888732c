"""purescript_ifrit_spark — a PySpark-native analytics engine with the query
capabilities of KtorZPersonal/purescript-ifrit.

The reference (see /root/reference, surveyed in SURVEY.md) is a compiler from
a typed SQL dialect to MongoDB aggregation pipelines. This package is a
brand-new Spark-first engine with the same dialect and semantics:

    SQL string ──lexer──▶ tokens ──parser──▶ AST ──analyzer──▶ output schema
                                               │
                                               └──spark_sql──▶ Spark SQL text
                                                     └──planner──▶ pyspark DataFrame
                                                        (one spark.sql call)

Execution is delegated entirely to Spark/Catalyst: plans/spark_sql renders
one declarative query (filter/projection/aggregate/order/limit,
higher-order array functions) and the planner resolves it over the input
in one spark.sql call, so predicate pushdown, column pruning, partial aggregation
and whole-stage codegen come for free.

Beyond the reference surface it ships the large-scale training-data-pipeline
operators (operators/): exact & fuzzy dedup, similarity search, text
analysis, multimodal plumbing — all shuffle-conscious, designed for 100 TB.
"""

from purescript_ifrit_spark.api import compile_query, run_query, IfritPlan
from purescript_ifrit_spark.schema import Schema, schema_from_json, schema_from_struct

__version__ = "0.1.0"

__all__ = [
    "compile_query",
    "run_query",
    "IfritPlan",
    "Schema",
    "schema_from_json",
    "schema_from_struct",
]
