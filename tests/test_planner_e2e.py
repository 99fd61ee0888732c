"""End-to-end: dialect SQL → DataFrame → results, on a nested-document
fixture (tests/conftest.py) — modeled on the reference's examples layer
(examples/001-005.js run against MongoDB; here Spark executes)."""

from __future__ import annotations

import pytest

from purescript_ifrit_spark.api import run_query
from purescript_ifrit_spark.errors import PlanError
from purescript_ifrit_spark.planner import CompatFlags
from tests.conftest import WIZARDS_SCHEMA


def rows(df):
    return [tuple(r) for r in df.collect()]


def q(spark, wizards, sql, **kw):
    return run_query(spark, wizards, sql, schema=WIZARDS_SCHEMA, **kw)


# -- example-001 equivalent: bad guys' names --------------------------------
def test_filter_eq_boolean(spark, wizards):
    df = q(spark, wizards, 'SELECT name WHERE evil = true')
    assert sorted(rows(df)) == [("belra",), ("dmira",), ("fyra",)]


def test_bare_boolean_predicate(spark, wizards):
    df = q(spark, wizards, "SELECT name WHERE evil")
    assert sorted(rows(df)) == [("belra",), ("dmira",), ("fyra",)]


def test_not_bare_field(spark, wizards):
    df = q(spark, wizards, "SELECT name WHERE NOT evil")
    assert sorted(rows(df)) == [("aldric",), ("coven",), ("elwin",)]


def test_nested_projection_and_filter(spark, wizards):
    df = q(
        spark, wizards,
        "SELECT profile.bio.school WHERE profile.bio.age > 30",
    )
    assert df.columns == ["profile_bio_school"]
    assert sorted(rows(df)) == [("ember",), ("storm",), ("tide",)]


def test_and_or_not_nesting(spark, wizards):
    df = q(
        spark, wizards,
        'SELECT name WHERE (profile.bio.age > 20 AND profile.bio.age < 40) '
        'OR profile.bio.school = "tide"',
    )
    assert sorted(rows(df)) == [("aldric",), ("dmira",), ("elwin",), ("fyra",)]


def test_not_comparison(spark, wizards):
    # NOT(a > b) ≡ a <= b (reference De Morgan rewrite; Spark negates natively)
    df = q(spark, wizards, "SELECT name WHERE NOT (profile.bio.age > 27)")
    assert sorted(rows(df)) == [("coven",), ("dmira",), ("elwin",)]


def test_lte_gte_tokens(spark, wizards):
    # documented fix: <= >= lexed directly (SURVEY §2.3 F3)
    df = q(spark, wizards, "SELECT name WHERE profile.bio.age <= 27")
    assert sorted(rows(df)) == [("coven",), ("dmira",), ("elwin",)]


def test_reversed_literal_comparison(spark, wizards):
    df = q(spark, wizards, "SELECT name WHERE 40 < profile.bio.age")
    assert sorted(rows(df)) == [("belra",), ("fyra",)]


def test_field_vs_field_rejected(spark, wizards):
    # the reference's message shape (MongoDB.purs:467-471): operands in
    # dialect notation, not rendered SQL
    with pytest.raises(PlanError) as e:
        q(spark, wizards, "SELECT name WHERE name = name").collect()
    assert str(e.value) == (
        "invalid condition: name = name: should target a field of the document"
    )
    for sql, desc in (
        ('SELECT name WHERE "a" != "b"', '"a" != "b"'),
        ("SELECT name WHERE 2.5 < 3", "2.5 < 3"),
    ):
        with pytest.raises(PlanError) as e:
            q(spark, wizards, sql)
        assert str(e.value) == (
            f"invalid condition: {desc}: should target a field of the document"
        )


def test_field_vs_field_compat_flag(spark, wizards):
    df = q(
        spark, wizards,
        "SELECT name WHERE profile.bio.age > profile.body.height",
        flags=CompatFlags(allow_field_comparison=True),
    )
    assert df.count() == 6


# -- order / limit / offset -------------------------------------------------
def test_order_by_limit(spark, wizards):
    df = q(spark, wizards, "SELECT name ORDER BY profile.bio.age DESC LIMIT 2")
    assert rows(df) == [("fyra",), ("belra",)]


def test_multi_key_order(spark, wizards):
    df = q(spark, wizards, "SELECT name ORDER BY profile.bio.age ASC, name DESC")
    assert rows(df)[0] == ("coven",)
    assert rows(df)[1:3] == [("elwin",), ("dmira",)]  # tie on 27, name DESC


def test_limit_before_offset_quirk(spark, wizards):
    # faithful: LIMIT 2 OFFSET 1 → take 2 then skip 1 → 1 row
    df = q(spark, wizards, "SELECT name ORDER BY name LIMIT 2 OFFSET 1")
    assert rows(df) == [("belra",)]
    # LIMIT 2 OFFSET 3 → empty (golden Test.Main.purs:899-917 analogue)
    df = q(spark, wizards, "SELECT name ORDER BY name LIMIT 2 OFFSET 3")
    assert rows(df) == []


def test_sane_offset_flag(spark, wizards):
    df = q(
        spark, wizards,
        "SELECT name ORDER BY name LIMIT 2 OFFSET 1",
        flags=CompatFlags(sane_offset=True),
    )
    assert rows(df) == [("belra",), ("coven",)]


# -- grouped aggregation ----------------------------------------------------
def test_group_by_avg(spark, wizards):
    df = q(
        spark, wizards,
        "SELECT AVG(profile.bio.age) AS avg_age GROUP BY profile.bio.school",
    )
    got = {r["_id"]: r["avg_age"] for r in df.collect()}
    assert got == {"storm": 26.5, "ember": 34.0, "tide": 41.0}


def test_group_by_null_global(spark, wizards):
    df = q(spark, wizards, "SELECT COUNT(name) AS n, SUM(profile.bio.age) AS s GROUP BY NULL")
    r = df.collect()[0]
    assert r["n"] == 6 and r["s"] == 203.0 and r["_id"] is None


def test_grouped_bare_field_collect(spark, wizards):
    df = q(spark, wizards, "SELECT name GROUP BY evil")
    got = {r["_id"]: sorted(r["name"]) for r in df.collect()}
    assert got == {
        True: ["belra", "dmira", "fyra"],
        False: ["aldric", "coven", "elwin"],
    }


def test_pre_aggregation_sort_limit(spark, wizards):
    # O4: ORDER BY/LIMIT select which rows are aggregated ("avg of 2 oldest")
    df = q(
        spark, wizards,
        "SELECT AVG(profile.bio.age) AS a GROUP BY NULL "
        "ORDER BY profile.bio.age DESC LIMIT 2",
    )
    assert df.collect()[0]["a"] == 48.0  # (55 + 41) / 2


def test_grouped_min_max(spark, wizards):
    df = q(
        spark, wizards,
        "SELECT MIN(profile.bio.age) AS lo, MAX(profile.bio.age) AS hi "
        "GROUP BY profile.bio.school",
    )
    got = {r["_id"]: (r["lo"], r["hi"]) for r in df.collect()}
    assert got["storm"] == (19.0, 34.0)


# -- per-row array aggregation (mode B) -------------------------------------
def test_avg_array(spark, wizards):
    df = q(spark, wizards, "SELECT name, AVG(scores) AS avg_score")
    got = dict(rows(df))
    assert got["aldric"] == pytest.approx(16.0 / 3)
    assert got["belra"] == 9.0
    assert got["dmira"] is None  # empty array → null


def test_sum_array(spark, wizards):
    got = dict(rows(q(spark, wizards, "SELECT name, SUM(scores) AS s")))
    assert got["elwin"] == 16.0
    assert got["dmira"] == 0.0  # empty → seed 0 (MongoDB $sum parity)


def test_min_max_array(spark, wizards):
    got = dict(rows(q(spark, wizards, "SELECT name, MAX(scores) AS m")))
    assert got["aldric"] == 8.0
    assert got["dmira"] is None


def test_count_array(spark, wizards):
    got = dict(rows(q(spark, wizards, "SELECT name, COUNT(wands) AS c")))
    assert got == {"aldric": 2, "belra": 1, "coven": 3, "dmira": 0,
                   "elwin": 1, "fyra": 2}


def test_nested_array_aggregates(spark, wizards):
    # intended MIN/MAX-over-nested semantics (SURVEY §2.4 B5)
    got = dict(rows(q(spark, wizards, "SELECT name, MAX(wands.power) AS p")))
    assert got["coven"] == 16.0 and got["fyra"] == 30.0 and got["dmira"] is None
    got = dict(rows(q(spark, wizards, "SELECT name, AVG(wands.power) AS p")))
    assert got["aldric"] == 9.5
    got = dict(rows(q(spark, wizards, "SELECT name, SUM(wands.power) AS p")))
    assert got["coven"] == 22.0


# -- derived tables ---------------------------------------------------------
def test_derived_table_pipeline(spark, wizards):
    df = q(
        spark, wizards,
        "SELECT AVG(p) AS avg_pow FROM (SELECT AVG(wands.power) AS p, name) "
        "WHERE p > 5 GROUP BY NULL",
    )
    # per-wizard avg wand power: aldric 9.5, belra 21, coven 7.33.., elwin 9, fyra 20.5
    r = df.collect()[0]
    assert r["avg_pow"] == pytest.approx((9.5 + 21.0 + 22.0 / 3 + 9.0 + 20.5) / 5)


def test_null_comparison(spark, wizards):
    # = NULL ≡ isNull: MAX over empty array is null for dmira
    df = q(
        spark, wizards,
        "SELECT name FROM (SELECT name, MAX(scores) AS m) WHERE m = NULL",
    )
    assert rows(df) == [("dmira",)]
    df = q(
        spark, wizards,
        "SELECT name FROM (SELECT name, MAX(scores) AS m) WHERE NOT (m = NULL)",
    )
    assert len(rows(df)) == 5


def test_count_object_nested_array(spark):
    # regression: COUNT over a dotted path whose first segment is an OBJECT
    # (not an array) must size the array at the full path, not attempt the
    # numeric-fn push-down transform (which requires array<struct>)
    schema = {"a": {"b": ["number"]}, "name": "string"}
    df = spark.createDataFrame(
        [("x", {"b": [1.0, 2.0, 3.0]}), ("y", {"b": []})],
        "name string, a struct<b: array<double>>",
    )
    got = dict(
        (r.name, r.n)
        for r in run_query(spark, df, "SELECT name, COUNT(a.b) AS n", schema=schema).collect()
    )
    assert got == {"x": 3, "y": 0}


def test_output_schema_matches_runtime(spark, wizards):
    from purescript_ifrit_spark.api import compile_query

    plan = compile_query(
        WIZARDS_SCHEMA,
        "SELECT AVG(profile.bio.age) AS a GROUP BY profile.bio.school",
    )
    assert plan.output_schema.to_json_obj() == {"a": "number", "_id": "string"}
    df = plan.apply(wizards)
    assert set(df.columns) == {"a", "_id"}


# -- build: one spark.sql call over a temp view -----------------------------
def _ifrit_views(spark):
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("__ifrit_")]


def test_build_drops_its_view(spark, wizards):
    from pyspark.errors import AnalysisException

    from purescript_ifrit_spark.api import compile_unchecked

    assert rows(q(spark, wizards, "SELECT name ORDER BY name LIMIT 1")) == [("aldric",)]
    assert _ifrit_views(spark) == []
    with pytest.raises(AnalysisException):
        compile_unchecked("SELECT no_such_field").apply(wizards)
    assert _ifrit_views(spark) == []


def test_string_literal_with_braces_quotes_and_backslash(spark):
    # the lexer's string charset cannot spell these; programmatic ASTs can,
    # and the rendered text must reach spark.sql unformatted and unescaped
    from dataclasses import replace

    from purescript_ifrit_spark.parser import parse_sql
    from purescript_ifrit_spark.planner import build
    from purescript_ifrit_spark.plans.ast import LitOperand

    odd = "a{0}}{'b\\c\\"
    df = spark.createDataFrame([(odd,), ("a{0}",), ("b\\c",)], "name string")
    stmt = parse_sql('SELECT name WHERE name = "x"')
    stmt = replace(stmt, where=replace(stmt.where, rhs=LitOperand(odd)))
    assert rows(build(df, stmt)) == [(odd,)]


def test_connect_template_keeps_braces(spark):
    # On Spark Connect, build passes the input as spark.sql(template, t=df);
    # the template must survive str.format with its braces intact. The
    # classic formatter runs the same str.format, so it checks the text.
    from purescript_ifrit_spark.api import compile_query
    from purescript_ifrit_spark.planner import format_template

    df = spark.createDataFrame(
        [(1, "mail ann@example.com or call 555-123-4567"), (2, "a{0}}")],
        "doc_id long, text string",
    )
    name = "__ifrit_template"
    for sql in ("SELECT doc_id, REDACT(text) AS t", "SELECT doc_id, text AS t"):
        text = compile_query({"doc_id": "number", "text": "string"}, sql).to_spark_sql(name)
        assert sorted(rows(spark.sql(format_template(text, name), t=df))) == sorted(
            rows(run_query(spark, df, sql))
        ), sql
    assert "{" in compile_query({"text": "string"}, "SELECT REDACT(text) AS t").to_spark_sql(name)


def test_cached_input_stays_cached(spark):
    # spark.catalog.dropTempView uncaches every plan with the view's
    # result, which is the input itself: build must drop its view without
    # that, or a cached input loses its cache after one query
    df = spark.createDataFrame([("a", True), ("b", False)], "name string, evil boolean")
    df.cache().count()
    try:
        out = run_query(spark, df, "SELECT name WHERE evil")
        assert rows(out) == [("a",)]
        for later in (out, df.select("name")):
            assert "InMemoryRelation" in later._jdf.queryExecution().optimizedPlan().toString()
    finally:
        df.unpersist()


def test_literal_beyond_int64_compares_as_double(spark, wizards):
    # an integral literal past int64 renders as a double, not as a DECIMAL
    # wider than Spark's 38 digits; one too long for a float lexes as inf
    for lit in (str(10**39), "9" * 400):
        assert rows(q(spark, wizards, f"SELECT name WHERE profile.bio.age > {lit}")) == []
        assert len(rows(q(spark, wizards, f"SELECT name WHERE profile.bio.age < {lit}"))) == 6


def test_build_registers_the_udfs_a_statement_uses(spark):
    df = spark.createDataFrame(
        [(1, "cafe\u0301"), (2, "plain")], "doc_id long, text string"
    )
    # NFC in a projection, a WHERE operand and a derived table
    for sql, want in (
        ("SELECT doc_id, NFC(text) AS t", [(1, "caf\u00e9"), (2, "plain")]),
        ('SELECT doc_id WHERE NFC(text) = "plain"', [(2,)]),
        ('SELECT doc_id FROM (SELECT doc_id, NFC(text) AS t) WHERE t = "plain"',
         [(2,)]),
    ):
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS ifrit_nfc")
        assert sorted(rows(run_query(spark, df, sql))) == want, sql
