"""Schema model: the dialect's type system and its Spark mapping.

Mirrors the reference's Schema ADT (src/Ifrit/Semantic.purs:35-41):

    data Schema = Object (StrMap Schema) | Array Schema
                | String | Number | Boolean | Null

- primitives: number / string / boolean / null
- arbitrary-depth nested objects, addressed with dotted paths (a.b.c)
- homogeneous single-element-type arrays

The schema is externally supplied (JSON document) and doubles as a security
allowlist: fields absent from the schema are unqueryable
(reference: README.md:206-208, src/Ifrit/Semantic.purs:108-109).

Spark mapping (SURVEY.md §1.3): Object→StructType, Array→ArrayType,
String→StringType, Number→DoubleType, Boolean→BooleanType, Null→NullType.
`schema_from_struct` additionally lets the engine run over any existing
DataFrame (parquet tables etc.) by deriving the allowlist from df.schema —
all Spark numeric types degrade to `number`, matching the reference's
single-number-type model (src/Ifrit/Lexer.purs:18 lexes Decimal, degraded to
double at codegen, src/Ifrit/Driver/MongoDB.purs:453). Both Spark-facing
functions import pyspark when called, so decoding a schema needs no Spark.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any, Dict, Optional

from purescript_ifrit_spark.errors import AnalysisError

if TYPE_CHECKING:
    from pyspark.sql import types as T

# kind tags
OBJECT = "object"
ARRAY = "array"
STRING = "string"
NUMBER = "number"
BOOLEAN = "boolean"
NULL = "null"

_PRIMITIVES = {STRING, NUMBER, BOOLEAN, NULL}


@dataclass(frozen=True)
class Schema:
    """One node of the dialect's type tree."""

    kind: str
    fields: Optional[Dict[str, "Schema"]] = field(default=None)  # OBJECT
    element: Optional["Schema"] = field(default=None)  # ARRAY

    # -- constructors -------------------------------------------------------
    @staticmethod
    def string() -> "Schema":
        return Schema(STRING)

    @staticmethod
    def number() -> "Schema":
        return Schema(NUMBER)

    @staticmethod
    def boolean() -> "Schema":
        return Schema(BOOLEAN)

    @staticmethod
    def null() -> "Schema":
        return Schema(NULL)

    @staticmethod
    def array(element: "Schema") -> "Schema":
        return Schema(ARRAY, element=element)

    @staticmethod
    def object(fields: Dict[str, "Schema"]) -> "Schema":
        return Schema(OBJECT, fields=dict(fields))

    # -- predicates ---------------------------------------------------------
    @property
    def is_object(self) -> bool:
        return self.kind == OBJECT

    @property
    def is_array(self) -> bool:
        return self.kind == ARRAY

    @property
    def is_number(self) -> bool:
        return self.kind == NUMBER

    @property
    def is_comparable(self) -> bool:
        return self.kind in (NUMBER, STRING, BOOLEAN)

    # -- JSON round-trip (reference show = JSON stringify, Semantic.purs:425-426)
    def to_json_obj(self) -> Any:
        if self.kind == OBJECT:
            return {k: v.to_json_obj() for k, v in self.fields.items()}
        if self.kind == ARRAY:
            return [self.element.to_json_obj()]
        return self.kind

    def show(self) -> str:
        """Reference-parity repr: the JSON encoding, stringified."""
        return json.dumps(self.to_json_obj(), separators=(",", ":"))

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Schema({self.show()})"

    # -- dotted-path resolution (reference: Semantic.purs:95-111) -----------
    def resolve(self, path: str) -> Optional["Schema"]:
        """Walk `a.b.c` through nested objects; None if any hop is missing."""
        node = self
        for part in path.split("."):
            if not node.is_object or part not in node.fields:
                return None
            node = node.fields[part]
        return node

    # -- Spark mapping ------------------------------------------------------
    def to_spark(self) -> T.DataType:
        from pyspark.sql import types as T

        if self.kind == OBJECT:
            return T.StructType(
                [T.StructField(k, v.to_spark(), True) for k, v in self.fields.items()]
            )
        if self.kind == ARRAY:
            return T.ArrayType(self.element.to_spark(), True)
        return {
            STRING: T.StringType(),
            NUMBER: T.DoubleType(),
            BOOLEAN: T.BooleanType(),
            NULL: T.NullType(),
        }[self.kind]


# interned primitive nodes: Schema is a frozen (immutable) dataclass, so
# the four leaf kinds can be shared across every decoded schema — frozen
# dataclass construction (object.__setattr__ per field) is the hot cost
# of schema decode, which runs once per compile_query call (r14
# optimization round, guide §1.2 "per-task work")
_PRIM_SCHEMAS = {k: Schema(k) for k in _PRIMITIVES}


def schema_from_json(doc: Any) -> Schema:
    """Decode the reference's declarative JSON schema syntax.

    Reference: src/Ifrit/Semantic.purs:368-400 — primitives are the strings
    "number"|"string"|"boolean"|"null"; arrays are 1-element JSON arrays;
    objects are JSON objects. Anything else → "unknown schema's type".
    """
    if isinstance(doc, str):
        node = _PRIM_SCHEMAS.get(doc)
        if node is not None:
            return node
        raise AnalysisError(f"unknown schema's type: {doc}")
    if isinstance(doc, list):
        # reference: "exactly one element is expected" (Semantic.purs:390-397)
        if len(doc) != 1:
            raise AnalysisError(
                "unknown schema's type: arrays expect exactly one element"
            )
        return Schema.array(schema_from_json(doc[0]))
    if isinstance(doc, dict):
        # direct construction: the dictcomp is already a fresh dict, so
        # Schema.object's defensive dict() copy is pure overhead here
        return Schema(
            OBJECT, fields={k: schema_from_json(v) for k, v in doc.items()}
        )
    raise AnalysisError(f"unknown schema's type: {doc!r}")


def schema_from_struct(dt: T.DataType) -> Schema:
    """Derive a dialect schema from a Spark type — engine extension that lets
    queries run over any DataFrame (e.g. parquet tables) without a hand-written
    JSON schema. Numeric/temporal Spark types all map to `number`/`string`
    per the reference's 4-type model.
    """
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return Schema.object({f.name: schema_from_struct(f.dataType) for f in dt.fields})
    if isinstance(dt, T.ArrayType):
        return Schema.array(schema_from_struct(dt.elementType))
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType, T.DecimalType)):
        return Schema.number()
    if isinstance(dt, T.BooleanType):
        return Schema.boolean()
    if isinstance(dt, T.NullType):
        return Schema.null()
    # strings, timestamps, dates, binary: opaque comparable scalars
    return Schema.string()
