"""`compile_query` and `IfritPlan.to_spark_sql` import no pyspark:
compile-only callers pay neither Spark's import time nor its memory.
Checked in a fresh interpreter, since the test session itself imports
Spark."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r'''
import sys

from purescript_ifrit_spark import compile_query

SCHEMA = {
    "age": "number",
    "class": "string",
    "is_master": "boolean",
    "bonus": ["number"],
    "spells": [{"power": "number"}],
}
# the five shapes of the reference's test/benchmark.js
SHAPES = (
    "SELECT age",
    "SELECT class AS klass, COUNT(bonus)",
    "SELECT AVG(age) GROUP BY class",
    "SELECT is_master WHERE (age > 14 AND age < 20)",
    "SELECT AVG(power) AS avg_pow FROM "
    "(SELECT AVG(spells.power) AS power, age) WHERE age > 18 GROUP BY NULL",
)
for sql in SHAPES:
    compile_query(SCHEMA, sql)
compile_query(
    {"doc_id": "number", "text": "string"},
    "SELECT MIN(doc_id) AS keep GROUP BY FINGERPRINT(text)",
)
# rendering the extension functions whose SQL reads the stopword and
# language-marker tables
for sql in (
    "SELECT doc_id, TOKEN_COUNT(text) AS n WHERE QUALITY(text) > 0.5",
    "SELECT doc_id, LANG_ID(text) AS lang",
):
    compile_query({"doc_id": "number", "text": "string"}, sql).to_spark_sql(
        "docs"
    )
print(sorted(m for m in sys.modules if m.split(".")[0] == "pyspark"))
'''


def test_compile_query_imports_no_pyspark():
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT], capture_output=True, text=True,
        env=env, cwd=ROOT, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"
