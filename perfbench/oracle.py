"""Independent output checks.

Spark operations are compared with the suite's `oracle_sql()` run by
DuckDB over the same parquet files. The comparison rule is the one in
tests/test_oracle_parity.py, kept as a separate copy so the benchmark does
not import the test suite: same column names, same row count, and equal
rows after an order-insensitive sort, with cells compared as
(type class, value) pairs and floats rounded to 5 decimals.
"""

from __future__ import annotations

import math
import os

def duck(sf_dir: str, temp_dir: str):
    """A DuckDB connection with one view per parquet table in `sf_dir`."""
    import duckdb

    # one thread: the oracles run beside Spark's warm-up pass
    con = duckdb.connect(config={"temp_directory": temp_dir, "threads": 1})
    for f in sorted(os.listdir(sf_dir)):
        name, ext = os.path.splitext(f)
        if ext == ".parquet":
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(sf_dir, f)}'")
    return con


def norm_cell(v):
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else round(v, 5) + 0.0)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm_cell(x) for x in v))
    return ("o", v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm_cell(r[i]) for i in order) for r in rows),
        key=lambda row: tuple(repr(c) for c in row),
    )


def compare(spark_cols, spark_rows, duck_cols, duck_rows):
    """None when the outputs agree, else a one-line reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    a, b = norm_rows(spark_cols, spark_rows), norm_rows(duck_cols, duck_rows)
    for x, y in zip(a, b):
        if x != y:
            return f"first differing row {x} vs {y}"
    return None


def run_oracle(con, oracle_sql: str):
    """(column names, rows) of `oracle_sql` on DuckDB."""
    res = con.execute(oracle_sql)
    return [d[0] for d in res.description], res.fetchall()


def check_spark(df, expected):
    """Collect `df` and compare it with the oracle's (columns, rows)."""
    rows = [tuple(r) for r in df.collect()]
    return compare(df.columns, rows, *expected)


def check_compile(plan, expected) -> str | None:
    """Compare a compiled plan's output fields and types, in order."""
    got = tuple(plan.output_schema.to_json_obj().items())
    return None if got == tuple(expected) else f"output schema {got} vs {expected}"
