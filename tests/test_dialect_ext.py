"""Dialect extension functions (functions/dialect_ext.py): parsing, typing,
planning, values against the operator-level functions they render, and
plan shape. These are engine extensions (SURVEY §2.7 / §7 phase 6) — no
reference counterpart, so no parity golden; the contract is equality with
the library operators plus the suite's DuckDB oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from purescript_ifrit_spark import errors as E
from purescript_ifrit_spark.api import compile_query, run_query
from purescript_ifrit_spark.functions import text as X
from purescript_ifrit_spark.parser import parse_sql
from purescript_ifrit_spark.plans.ast import FnCall, Group, Select
from purescript_ifrit_spark.plans.printer import to_sql
from purescript_ifrit_spark.plans.spark_sql import to_spark_sql
from purescript_ifrit_spark.sources.tables import load_table

DOC_SCHEMA = {"doc_id": "number", "text": "string"}


# ---------------------------------------------------------------------------
# parsing + printing
# ---------------------------------------------------------------------------


def test_parse_ext_fn_selector():
    stmt = parse_sql("SELECT doc_id, TOKEN_COUNT(text) AS n")
    assert isinstance(stmt, Select)
    assert stmt.projections[1] == FnCall(fn="TOKEN_COUNT", path="text", alias="n")


def test_parse_group_by_fn():
    stmt = parse_sql("SELECT MIN(doc_id) AS doc_id GROUP BY FINGERPRINT(text)")
    assert isinstance(stmt, Group)
    assert stmt.group_by == FnCall(fn="FINGERPRINT", path="text", alias=None)


def test_ext_fn_arity_errors_match_reference_shape():
    with pytest.raises(E.ParseError, match="invalid argument"):
        parse_sql("SELECT QUALITY(14)")
    with pytest.raises(E.ParseError, match="invalid argument"):
        parse_sql("SELECT CHUNK(text, 32)")


def test_printer_roundtrips_group_by_fn():
    sql = "SELECT MIN(doc_id) AS doc_id GROUP BY FINGERPRINT(text)"
    stmt = parse_sql(sql)
    assert parse_sql(to_sql(stmt)) == stmt


# ---------------------------------------------------------------------------
# analyzer typing
# ---------------------------------------------------------------------------


def test_ext_fn_requires_string_argument():
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(DOC_SCHEMA, "SELECT TOKEN_COUNT(doc_id) AS n")


def test_ext_fn_rejected_in_grouped_select():
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(DOC_SCHEMA, "SELECT QUALITY(text) AS q GROUP BY doc_id")


def test_chunk_not_groupable():
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(DOC_SCHEMA, "SELECT COUNT(doc_id) AS n GROUP BY CHUNK(text)")


def test_reference_fn_not_groupable():
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(DOC_SCHEMA, "SELECT COUNT(doc_id) AS n GROUP BY AVG(text)")


def test_chunk_group_key_rejected_by_both_backends(spark):
    # the analyzer rejects GROUP BY CHUNK, but compile_unchecked skips the
    # analyzer — rendering and applying the plan must still refuse the
    # array-valued key
    from purescript_ifrit_spark.api import compile_unchecked

    plan = compile_unchecked("SELECT COUNT(doc_id) AS n GROUP BY CHUNK(text)")
    with pytest.raises(E.PlanError, match="cannot be a GROUP BY key"):
        plan.to_spark_sql("documents")

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(E.PlanError, match="cannot be a GROUP BY key"):
        plan.apply(docs)


def test_ext_output_schema_types():
    plan = compile_query(
        DOC_SCHEMA,
        "SELECT TOKEN_COUNT(text) AS n, LANG_ID(text) AS lang, "
        "QUALITY(text) AS q, FINGERPRINT(text) AS fp, CHUNK(text) AS chunks",
    )
    out = plan.output_schema
    assert out.fields["n"].kind == "number"
    assert out.fields["lang"].kind == "string"
    assert out.fields["q"].kind == "number"
    assert out.fields["fp"].kind == "string"
    assert out.fields["chunks"].is_array
    assert out.fields["chunks"].element.kind == "string"


def test_group_by_fn_id_schema_is_fn_result():
    plan = compile_query(
        DOC_SCHEMA, "SELECT MIN(doc_id) AS doc_id GROUP BY FINGERPRINT(text)"
    )
    assert plan.output_schema.fields["_id"].kind == "string"


# ---------------------------------------------------------------------------
# execution: dialect results match the library primitives
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_ext_scalars_match_primitives(spark, docs):
    got = run_query(
        spark,
        docs,
        "SELECT doc_id, TOKEN_COUNT(text) AS n, QUALITY(text) AS q, "
        "LANG_ID(text) AS lang, FINGERPRINT(text) AS fp",
    )
    want = docs.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n"),
        X.quality(F.col("text")).alias("q"),
        X.lang_id(F.col("text")).alias("lang"),
        X.fingerprint(F.col("text")).alias("fp"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_chunk_matches_chunk_documents(spark, docs):
    from purescript_ifrit_spark.operators.text_analysis import chunk_documents

    got = (
        run_query(spark, docs, "SELECT doc_id, CHUNK(text) AS chunks")
        .select("doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk_text"))
    )
    want = chunk_documents(docs, "doc_id", "text", 64, 8).select(
        "doc_id", "chunk_idx", "chunk_text"
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_vectorize_matches_feature_hash_sparse(spark, docs):
    """The dialect VECTORIZE scalar must equal the verified explode+agg
    operator coordinate-for-coordinate (posexploded dense vs sparse with
    implicit zeros)."""
    from purescript_ifrit_spark.operators.vectorize import (
        VECTOR_DIM,
        feature_hash_sparse,
    )

    got = (
        run_query(spark, docs, "SELECT doc_id, VECTORIZE(text) AS v")
        .select("doc_id", F.posexplode("v").alias("bucket", "val"))
        .filter(F.col("val") != 0.0)
        .select("doc_id", "bucket", F.col("val").cast("long").alias("value"))
    )
    want = feature_hash_sparse(docs, "doc_id", "text", VECTOR_DIM).select(
        "doc_id", "bucket", F.col("value").cast("long").alias("value")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_quality_score_matches_linear_hash_score(spark, docs):
    """The dialect QUALITY_SCORE margin must equal linear_hash_score under
    the same fixed weights table (margin_weights) for every doc that has
    tokens; tokenless docs score 0 in the scalar form."""
    from purescript_ifrit_spark.operators.vectorize import (
        VECTOR_DIM,
        linear_hash_score,
        margin_weights,
    )

    got = {
        r["doc_id"]: r["m"]
        for r in run_query(
            spark, docs, "SELECT doc_id, QUALITY_SCORE(text) AS m"
        ).collect()
    }
    want = {
        r["doc_id"]: r["margin"]
        for r in linear_hash_score(
            docs, margin_weights(spark, VECTOR_DIM), "doc_id", "text",
            VECTOR_DIM,
        ).collect()
    }
    assert got and all(
        float(m) == want.get(i, 0.0) for i, m in got.items()
    )


def test_vectorize_not_groupable_and_typed():
    from purescript_ifrit_spark.analyzer import analyze
    from purescript_ifrit_spark.errors import AnalysisError
    from purescript_ifrit_spark.parser import parse_sql
    from purescript_ifrit_spark.schema import schema_from_json

    schema = schema_from_json({"doc_id": "number", "text": "string"})
    out = analyze(
        schema, parse_sql("SELECT doc_id, VECTORIZE(text) AS v")
    ).to_json_obj()
    assert out["v"] == ["number"]
    out2 = analyze(
        schema, parse_sql("SELECT doc_id, QUALITY_SCORE(text) AS m")
    ).to_json_obj()
    assert out2["m"] == "number"
    with pytest.raises(AnalysisError):
        analyze(
            schema,
            parse_sql("SELECT COUNT(doc_id) AS n GROUP BY VECTORIZE(text)"),
        )


def test_group_by_fingerprint_is_exact_dedup(spark, docs):
    from purescript_ifrit_spark.operators.dedup import dedup_exact_text

    got = run_query(
        spark, docs, "SELECT MIN(doc_id) AS doc_id GROUP BY FINGERPRINT(text)"
    ).select("doc_id")
    want = dedup_exact_text(docs, "text", "doc_id").select("doc_id")
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )


# ---------------------------------------------------------------------------
# every query shape against the operator-level functions the dialect renders
# ---------------------------------------------------------------------------

EXT_QUERIES = [
    "SELECT doc_id, TOKEN_COUNT(text) AS n",
    "SELECT doc_id, QUALITY(text) AS q",
    "SELECT doc_id, LANG_ID(text) AS lang",
    "SELECT doc_id, FINGERPRINT(text) AS fp",
    "SELECT doc_id, CHUNK(text) AS chunks",
    "SELECT doc_id, REDACT(text) AS clean",
    "SELECT MIN(doc_id) AS doc_id GROUP BY FINGERPRINT(text)",
    "SELECT COUNT(doc_id) AS n GROUP BY LANG_ID(text)",
    "SELECT doc_id FROM (SELECT doc_id, QUALITY(text) AS q) WHERE q > 0.5",
    "SELECT doc_id, SPLIT(doc_id) AS split",
    "SELECT COUNT(doc_id) AS n GROUP BY SPLIT(doc_id)",
    "SELECT doc_id, VECTORIZE(text) AS v",
    "SELECT doc_id, QUALITY_SCORE(text) AS m",
    "SELECT COUNT(doc_id) AS n GROUP BY QUALITY_SCORE(text)",
    "SELECT doc_id, GOPHER(text) AS gpass",
    "SELECT COUNT(doc_id) AS n GROUP BY GOPHER(text)",
    "SELECT doc_id WHERE GOPHER(text) = true",
    "SELECT doc_id, C4PASS(text) AS cpass",
    "SELECT COUNT(doc_id) AS n GROUP BY C4PASS(text)",
    "SELECT doc_id WHERE C4PASS(text) = true",
    "SELECT doc_id, MINHASH(text) AS sig",
    "SELECT MIN(doc_id) AS keep, COUNT(doc_id) AS n GROUP BY MINHASH(text)",
    "SELECT doc_id, SIMHASH(text) AS sig",
    "SELECT MIN(doc_id) AS keep, COUNT(doc_id) AS n GROUP BY SIMHASH(text)",
    "SELECT doc_id, BM25(text) AS score",
    "SELECT COUNT(doc_id) AS n GROUP BY BM25(text)",
    "SELECT doc_id WHERE BM25(text) > 2.0",
    "SELECT doc_id, HTMLTEXT(text) AS clean",
]


def _bm25_reference(text):
    """From-scratch Python recomputation of the frozen-model Okapi formula
    (idf, k1, b, avgdl pinned in dialect_ext.BM25_*)."""
    from purescript_ifrit_spark.functions.dialect_ext import (
        BM25_AVGDL,
        BM25_B,
        BM25_K1,
        BM25_QUERY,
    )

    if text is None:
        return None
    toks = " ".join(text.lower().split()).split(" ") if text.strip() else []
    dl = float(len(toks))
    load = (1.0 - BM25_B) + (BM25_B * (dl / BM25_AVGDL))
    s = 0.0
    for term, idf in BM25_QUERY:
        tf = float(toks.count(term))
        s = s + idf * ((tf * (BM25_K1 + 1.0)) / (tf + (BM25_K1 * load)))
    return round(s, 6)


def _with_reference(spark, docs, fn):
    """`docs` plus a `ref` column holding FN's value per row, computed by
    the operator-level function the dialect FN renders (functions/text,
    functions/hashing, operators/*) — never by the dialect itself."""
    from purescript_ifrit_spark.functions import dialect_ext as D
    from purescript_ifrit_spark.functions import hashing as H
    from purescript_ifrit_spark.operators import vectorize as V
    from purescript_ifrit_spark.operators.dedup import simhash_signatures
    from purescript_ifrit_spark.operators.sampling import split_expr
    from purescript_ifrit_spark.operators.text_analysis import (
        gopher_quality_flags,
    )
    from purescript_ifrit_spark.operators.text_cleaning import (
        c4_line_filter,
        html_text_expr,
        redact_expr,
    )

    t = F.col("text")
    columns = {
        "TOKEN_COUNT": lambda: X.token_count(t),
        "QUALITY": lambda: X.quality(t),
        "LANG_ID": lambda: X.lang_id(t),
        "FINGERPRINT": lambda: X.fingerprint(t),
        "CHUNK": lambda: X.chunk_array(
            t, chunk_tokens=D.CHUNK_TOKENS, overlap=D.CHUNK_OVERLAP
        ),
        "REDACT": lambda: redact_expr(t),
        "HTMLTEXT": lambda: html_text_expr(t),
        "SPLIT": lambda: split_expr(
            F.col("doc_id"), D.SPLIT_WEIGHTS, D.SPLIT_SALT
        ),
        "MINHASH": lambda: F.array_join(
            F.transform(
                H.minhash_signature(X.word_shingles(t, 3), 16),
                lambda v: F.hex(v),
            ),
            ":",
        ),
    }
    if fn in columns:
        return docs.withColumn("ref", columns[fn]())
    if fn == "VECTORIZE":
        vals = V.feature_hash_embed(
            docs, "doc_id", "text", V.VECTOR_DIM, normalize=False
        ).withColumnRenamed("embedding", "ref")
    elif fn == "QUALITY_SCORE":
        vals = V.linear_hash_score(
            docs, V.margin_weights(spark, V.VECTOR_DIM), "doc_id", "text",
            V.VECTOR_DIM,
        ).select("doc_id", F.col("margin").cast("long").alias("ref"))
    elif fn == "GOPHER":
        vals = gopher_quality_flags(docs).select(
            "doc_id", F.col("gopher_pass").alias("ref")
        )
    elif fn == "C4PASS":
        vals = c4_line_filter(docs, "doc_id", "text").select(
            "doc_id", F.col("c4_pass").alias("ref")
        )
    elif fn == "SIMHASH":
        # the dedup relation drops content-free docs; the dialect gives
        # them NULL, which the left join reproduces
        vals = simhash_signatures(docs, "doc_id", "text").select(
            F.col("_id").alias("doc_id"),
            F.format_string("%016X", "_sig").alias("ref"),
        )
    else:
        assert fn == "BM25", fn
        vals = spark.createDataFrame(
            [(r.doc_id, _bm25_reference(r.text))
             for r in docs.select("doc_id", "text").collect()],
            "doc_id long, ref double",
        )
    return docs.join(vals, "doc_id", "left")


@pytest.mark.parametrize("sql", EXT_QUERIES)
def test_ext_backends_agree(spark, docs, sql):
    """Each query equals the same query shape run over a precomputed `ref`
    column: `FN(arg)` is replaced by `ref`, whose values come from the
    operator-level function (see _with_reference)."""
    import re

    fn, arg = next(
        (f, a) for f, a in re.findall(r"([A-Z][A-Z0-9_]*)\((\w+)\)", sql)
        if f not in ("MIN", "COUNT")
    )
    got = run_query(spark, docs, sql)
    want = run_query(
        spark, _with_reference(spark, docs, fn), sql.replace(f"{fn}({arg})", "ref")
    )
    assert sorted(got.columns) == sorted(want.columns)

    def norm(df):
        rows = []
        for r in df.collect():
            d = r.asDict()
            rows.append(
                tuple(
                    tuple(v) if isinstance(v, list) else
                    (round(v, 9) if isinstance(v, float) else v)
                    for _, v in sorted(d.items())
                )
            )
        return sorted(rows, key=repr)

    assert norm(got) == norm(want)


def test_htmltext_matches_html_text_expr(spark):
    """HTMLTEXT renders Spark SQL (not the DuckDB oracle twin): every
    stage, entity and the line trim/join must equal html_text_expr,
    including backslashes, quotes, CRLF and empty/NULL input."""
    from purescript_ifrit_spark.operators.text_cleaning import html_text_expr

    pages = [
        "<html><head><style>p{color:red}</style><script>var a='x';"
        "</script></head><body><p>Hello &amp; welcome</p><br/>It&#39;s  a"
        "\t<b>test</b> &lt;ok&gt; &quot;q&quot;<!-- c -->\r\n"
        "<div>line \\ back &amp;lt;</div><noscript>x</noscript></body></html>",
        "<h1>Title</h1>\n\n   <li>one</li><li>two</li>",
        "",
        None,
        "plain text",
    ]
    probe = spark.createDataFrame(
        list(enumerate(pages)), "doc_id long, text string"
    )
    got = {
        r.doc_id: r.clean
        for r in run_query(
            spark, probe, "SELECT doc_id, HTMLTEXT(text) AS clean"
        ).collect()
    }
    want = {
        r.doc_id: r.clean
        for r in probe.select(
            "doc_id", html_text_expr(F.col("text")).alias("clean")
        ).collect()
    }
    assert got == want
    assert got[0] == "Hello & welcome\nIt's a test <ok> \"q\"\nline \\ back &lt;"


# ---------------------------------------------------------------------------
# plan shape: extensions stay JVM-side, dedup group is one shuffle
# ---------------------------------------------------------------------------


def test_ext_fns_stay_jvm_side(spark, docs):
    df = run_query(
        spark, docs,
        "SELECT TOKEN_COUNT(text) AS n, QUALITY(text) AS q, CHUNK(text) AS c",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_projection_stays_in_codegen(spark, docs):
    """BM25's tf counting is pure string ops ON PURPOSE: a filter() HOF
    lambda would run interpreted and break the projection out of
    whole-stage codegen. Pin the property: the scan-stage Project
    carries a codegen id, and no exchange or Python eval appears."""
    df = run_query(spark, docs, "SELECT doc_id, BM25(text) AS score")
    formatted = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Project [codegen id" in formatted, formatted[:800]
    assert "Exchange" not in formatted
    assert "Python" not in formatted
    assert "lambdafunction" not in formatted  # no interpreted HOF


def test_group_by_fn_is_partial_final_agg(spark, docs):
    df = run_query(
        spark, docs, "SELECT MIN(doc_id) AS doc_id GROUP BY FINGERPRINT(text)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # map-side partial + final
    assert "BatchEvalPython" not in plan


def test_split_dialect_fn(spark):
    # SPLIT accepts numeric and string ids, matches the Python operator
    from purescript_ifrit_spark.operators.sampling import hash_split

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    via_op = {r.doc_id: r.split for r in hash_split(df, "doc_id").collect()}
    via_sql = {
        r.doc_id: r.split
        for r in run_query(
            spark, df, "SELECT doc_id, SPLIT(doc_id) AS split"
        ).collect()
    }
    assert via_op == via_sql
    assert set(via_sql.values()) <= {"train", "val", "test"}


def test_split_groupable_and_typed():
    # groupable: split counts as a one-liner; boolean arg rejected
    plan = compile_query(
        {"doc_id": "number", "flag": "boolean"},
        "SELECT COUNT(doc_id) AS n GROUP BY SPLIT(doc_id)",
    )
    assert plan.output_schema.fields["_id"].kind == "string"
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(
            {"flag": "boolean"}, "SELECT SPLIT(flag) AS s"
        )


# ---------------------------------------------------------------------------
# ext functions as WHERE operands (engine extension)
# ---------------------------------------------------------------------------


def test_where_ext_fn_matches_derived_table_idiom(spark, docs):
    direct = run_query(spark, docs, "SELECT doc_id WHERE QUALITY(text) > 0.5")
    idiom = run_query(
        spark, docs,
        "SELECT doc_id FROM (SELECT doc_id, QUALITY(text) AS q) WHERE q > 0.5",
    )
    assert sorted(r.doc_id for r in direct.collect()) == sorted(
        r.doc_id for r in idiom.collect()
    )
    assert direct.count() > 0  # non-degenerate fixture


def test_where_ext_fn_reversed_and_composed(spark, docs):
    # literal-on-the-left mirroring (F9) and binary AND composition
    a = run_query(spark, docs, "SELECT doc_id WHERE 0.5 < QUALITY(text)")
    b = run_query(spark, docs, "SELECT doc_id WHERE QUALITY(text) > 0.5")
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )
    c = run_query(
        spark, docs,
        'SELECT doc_id WHERE (QUALITY(text) > 0.5 AND LANG_ID(text) = "en")',
    )
    assert 0 < c.count() <= b.count()


def test_where_ext_fn_backends_agree(spark, docs):
    sql = 'SELECT doc_id WHERE (QUALITY(text) > 0.5 AND TOKEN_COUNT(text) < 500)'
    got = run_query(spark, docs, sql)
    t = F.col("text")
    want = docs.filter((X.quality(t) > 0.5) & (X.token_count(t) < 500))
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    assert got.count() > 0


def test_where_ext_fn_errors():
    # reference fns stay parse errors in operand position; bare ext
    # predicates rejected; fn-vs-field comparison rejected (one-field rule)
    with pytest.raises(E.ParseError):
        parse_sql("SELECT doc_id WHERE AVG(text) > 1")
    with pytest.raises(E.ParseError):
        parse_sql("SELECT doc_id WHERE QUALITY(text)")
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(DOC_SCHEMA, "SELECT doc_id WHERE QUALITY(doc_id) > 1")
    stmt = parse_sql("SELECT doc_id WHERE QUALITY(text) = text")
    with pytest.raises(
        E.PlanError,
        match=r"^invalid condition: QUALITY\(text\) = text: should target",
    ):
        to_spark_sql(stmt, "docs")


# ---------------------------------------------------------------------------
# temporal extension functions: TUMBLE (scalar) and SESSIONIZE (analytic)
# ---------------------------------------------------------------------------

EV_SCHEMA = {
    "event_id": "number",
    "user_id": "number",
    "ts": "string",  # timestamps surface as "string" in the 4-type model
    "event_type": "string",
    "value": "number",
}


def test_tumble_types_and_groups():
    out = compile_query(EV_SCHEMA, "SELECT TUMBLE(ts) AS hour")
    assert out.output_schema.fields["hour"].kind == "number"
    out = compile_query(EV_SCHEMA, "SELECT COUNT(event_id) AS n GROUP BY TUMBLE(ts)")
    assert out.output_schema.fields["_id"].kind == "number"


def test_sessionize_projection_only():
    out = compile_query(EV_SCHEMA, "SELECT event_id, SESSIONIZE(ts) AS sid")
    assert out.output_schema.fields["sid"].kind == "number"
    # WHERE: window expressions have no value at filter time
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(EV_SCHEMA, "SELECT event_id WHERE SESSIONIZE(ts) > 1")
    # GROUP BY key: window-backed, not a scan-stage scalar
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(EV_SCHEMA, "SELECT COUNT(event_id) AS n GROUP BY SESSIONIZE(ts)")
    # grouped SELECT list: per-row analytic, not an aggregation
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(EV_SCHEMA, "SELECT SESSIONIZE(ts) AS s GROUP BY user_id")


def test_sessionize_requires_window_geometry_fields():
    # the fixed geometry reads user_id + event_id; both must exist
    with pytest.raises(E.IfritError, match="unexisting field 'user_id'"):
        compile_query({"event_id": "number", "ts": "string"},
                      "SELECT SESSIONIZE(ts) AS s")
    with pytest.raises(E.IfritError, match="unexisting field 'event_id'"):
        compile_query({"user_id": "number", "ts": "string"},
                      "SELECT SESSIONIZE(ts) AS s")


def test_sessionize_unchecked_rejected_by_both_backends(spark):
    from purescript_ifrit_spark.api import compile_unchecked

    plan = compile_unchecked("SELECT event_id WHERE SESSIONIZE(ts) > 1")
    with pytest.raises(E.PlanError, match="cannot be used in WHERE"):
        plan.to_spark_sql("events")
    ev = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:00")], "event_id long, user_id long, ts string"
    )
    with pytest.raises(E.PlanError, match="cannot be used in WHERE"):
        plan.apply(ev)


def test_temporal_backends_agree_on_events(spark, sf_dir):
    # TUMBLE against operators/windows.tumbling_agg's hour buckets (UTC
    # session, so the bucket start's epoch seconds are the dialect value);
    # SESSIONIZE against operators/windows.sessionize
    from purescript_ifrit_spark.operators.windows import (
        sessionize,
        tumbling_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
    sessions = sessionize(ev, "user_id", "ts", 30)
    for sql, want in (
        (
            "SELECT COUNT(event_id) AS n GROUP BY TUMBLE(ts)",
            tumbling_agg(ev, "ts", "hour", keys=()).select(
                "n", F.unix_timestamp("window_start").alias("_id")
            ),
        ),
        (
            "SELECT event_id, SESSIONIZE(ts) AS session_id",
            sessions.select("event_id", "session_id"),
        ),
        (
            "SELECT event_id, TUMBLE(ts) AS hour, SESSIONIZE(ts) AS session_id",
            sessions.select("event_id", hour.alias("hour"), "session_id"),
        ),
    ):
        a = {tuple(sorted(r.asDict().items())) for r in run_query(spark, ev, sql).collect()}
        b = {tuple(sorted(r.asDict().items())) for r in want.collect()}
        assert a == b, sql


def test_dialect_sessionize_matches_operator(spark, sf_dir):
    from purescript_ifrit_spark.operators.windows import sessionize

    ev = load_table(spark, sf_dir, "events")
    dialect = run_query(spark, ev, "SELECT event_id, SESSIONIZE(ts) AS session_id")
    op = sessionize(ev, "user_id", "ts", 30).select("event_id", "session_id")
    a = {(r.event_id, r.session_id) for r in dialect.collect()}
    b = {(r.event_id, r.session_id) for r in op.collect()}
    assert a == b


def test_sessionize_single_exchange_plan(spark, sf_dir):
    # stage + final share one window spec: the plan must contain exactly
    # one shuffle (hashpartitioning on user_id), never two
    ev = load_table(spark, sf_dir, "events")
    out = run_query(spark, ev, "SELECT event_id, SESSIONIZE(ts) AS session_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_analytic_order_by_shadowed_alias(spark, sf_dir):
    """ADVICE r3: `SELECT SESSIONIZE(ts) AS ts ... ORDER BY ts` — the
    select-list alias must NOT capture the outer ORDER BY. The dialect's
    ORDER stage precedes projection, so the FINAL rows are ordered by the
    SOURCE ts; the emitter stages hidden __ifrit_ord_N aliases so
    resolution can't prefer the projected alias."""
    ev = load_table(spark, sf_dir, "events")
    sql = "SELECT event_id, SESSIONIZE(ts) AS ts ORDER BY ts DESC, event_id ASC"
    got = [r.event_id for r in run_query(spark, ev, sql).collect()]
    # ORDER-sensitive compare: (ts, event_id) is a total order
    want = [
        r.event_id
        for r in ev.orderBy(F.col("ts").desc(), F.col("event_id").asc()).collect()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# IMAGE_DHASH (round 7 — VERDICT r6 #6)
# ---------------------------------------------------------------------------


def test_image_dhash_parse_analyze_golden():
    """Parser/analyzer goldens: IMAGE_DHASH lexes as a function keyword,
    types as number, accepts string-kind (binary-surfaced) args, and
    serves as a GROUP BY key (the perceptual-dedup move)."""
    from purescript_ifrit_spark.analyzer import analyze
    from purescript_ifrit_spark.parser import parse_sql
    from purescript_ifrit_spark.plans.ast import FnCall
    from purescript_ifrit_spark.schema import schema_from_json

    stmt = parse_sql("SELECT media_id, IMAGE_DHASH(payload) AS dhash")
    (p1, p2) = stmt.projections
    assert isinstance(p2, FnCall) and p2.fn == "IMAGE_DHASH"
    assert p2.path == "payload" and p2.alias == "dhash"
    schema = schema_from_json({"media_id": "number", "payload": "string"})
    out = analyze(schema, stmt).to_json_obj()
    assert out["dhash"] == "number"
    grouped = analyze(
        schema,
        parse_sql("SELECT MIN(media_id) AS keep GROUP BY IMAGE_DHASH(payload)"),
    ).to_json_obj()
    assert grouped["_id"] == "number"


def test_image_dhash_matches_dhash_images_and_sniffs_codecs(spark):
    """The dialect scalar must equal the verified dhash_images operator on
    the SAME payload for every codec the sniffing dispatch covers, yield
    NULL on poison/unknown magic (run_query registers the session UDF
    the rendered SQL calls)."""
    import numpy as np

    from purescript_ifrit_spark.api import run_query
    from purescript_ifrit_spark.operators.multimodal import (
        dhash_images,
        encode_jpeg_gray_blocks,
        encode_png,
    )

    vals = (np.arange(12, dtype=np.int64) * 91 % 256).reshape(3, 4)
    raster = np.kron(vals, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    p5 = (f"P5\n{raster.shape[1]} {raster.shape[0]}\n255\n".encode()
          + raster.tobytes())
    png = encode_png(raster[:, :, None])
    jpg = encode_jpeg_gray_blocks(vals)
    ddl = "media_id long, payload binary, meta struct<mime:string,source:string>"
    media = spark.createDataFrame(
        [(1, bytearray(p5), ("x", "t")), (2, bytearray(png), ("x", "t")),
         (3, bytearray(jpg), ("x", "t")),
         (4, bytearray(b"not an image"), ("x", "t")), (5, None, ("x", "t"))],
        ddl,
    )
    got = {r.media_id: r.dhash for r in run_query(
        spark, media, "SELECT media_id, IMAGE_DHASH(payload) AS dhash"
    ).collect()}
    ref = dhash_images(
        spark.createDataFrame([(1, bytearray(p5), ("x", "t"))], ddl),
        codec="netpbm",
    ).first()["dhash"]
    assert got[1] == got[2] == got[3] == ref
    assert got[4] is None and got[5] is None




def test_gopher_dialect_matches_operator(spark, docs):
    """GOPHER(text) through the compiler must equal gopher_quality_flags'
    combined boolean at the default thresholds, including on a planted
    passing document (the real corpus fails every doc on word count, so
    without the plant this test would never see the True branch)."""
    from purescript_ifrit_spark.operators.text_analysis import (
        gopher_quality_flags,
    )

    good = "the and that have with " + " ".join(f"word{i}" for i in range(60))
    aug = docs.select("doc_id", "text").unionAll(
        spark.createDataFrame([(990_001, good)], ["doc_id", "text"])
    )
    via_dialect = {
        r.doc_id: r.gpass
        for r in run_query(
            spark, aug, "SELECT doc_id, GOPHER(text) AS gpass"
        ).collect()
    }
    via_operator = {
        r.doc_id: r.gopher_pass
        for r in gopher_quality_flags(aug).collect()
    }
    assert via_dialect == via_operator
    assert via_dialect[990_001] is True



def test_gopher_typed_boolean_and_where():
    plan = compile_query(DOC_SCHEMA, "SELECT GOPHER(text) AS g")
    assert plan.output_schema.fields["g"].kind == "boolean"
    # bare-predicate form stays boolean-FIELD-only
    import pytest as _pt

    with _pt.raises(Exception):
        compile_query(DOC_SCHEMA, "SELECT doc_id WHERE GOPHER(text)")


def test_c4pass_dialect_matches_operator(spark, docs):
    """C4PASS(text) through the compiler must equal c4_line_filter's
    page flag, including on a planted passing document (the single-line
    corpus fails every doc on kept-line count)."""
    from purescript_ifrit_spark.operators.text_cleaning import c4_line_filter

    good = "One fine line right here.\nSecond fine line is good.\n" \
        "Third fine line stays too."
    aug = docs.select("doc_id", "text").unionAll(
        spark.createDataFrame([(990_001, good)], ["doc_id", "text"])
    )
    via_dialect = {
        r.doc_id: r.cpass
        for r in run_query(
            spark, aug, "SELECT doc_id, C4PASS(text) AS cpass"
        ).collect()
    }
    via_operator = {
        r.doc_id: r.c4_pass
        for r in c4_line_filter(aug, "doc_id", "text").collect()
    }
    assert via_dialect == via_operator
    assert via_dialect[990_001] is True



def test_c4pass_typed_boolean():
    plan = compile_query(DOC_SCHEMA, "SELECT C4PASS(text) AS c")
    assert plan.output_schema.fields["c"].kind == "boolean"


def test_minhash_parse_analyze_golden():
    """Parser/analyzer goldens (VERDICT r7 #8): MINHASH lexes as a
    function token WITHOUT shadowing MIN (the boundary rule), types as
    string, rejects non-string args, and serves as a GROUP BY key."""
    from purescript_ifrit_spark.analyzer import analyze
    from purescript_ifrit_spark.parser import parse_sql
    from purescript_ifrit_spark.plans.ast import FnCall
    from purescript_ifrit_spark.schema import schema_from_json

    # MIN and MINHASH coexist in one statement — the lexer boundary rule
    stmt = parse_sql("SELECT MIN(doc_id) AS keep GROUP BY MINHASH(text)")
    assert isinstance(stmt.group_by, FnCall)
    assert stmt.group_by.fn == "MINHASH" and stmt.group_by.path == "text"
    schema = schema_from_json({"doc_id": "number", "text": "string"})
    grouped = analyze(schema, stmt).to_json_obj()
    assert grouped["_id"] == "string"
    proj = analyze(
        schema, parse_sql("SELECT doc_id, MINHASH(text) AS sig")
    ).to_json_obj()
    assert proj["sig"] == "string"
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(DOC_SCHEMA, "SELECT MINHASH(doc_id) AS sig")


def test_minhash_dialect_matches_hashing_family(spark, docs):
    """The dialect scalar must be BIT-IDENTICAL to the operators/dedup
    signature family: hex-join of hashing.minhash_signature over
    word_shingles(text, 3) at 16 lanes — the contract that makes
    GROUP BY MINHASH(text) the same equivalence relation the LSH dedup
    banding reads. Blank/NULL text must yield NULL, never a shared
    constant."""
    from pyspark.sql import functions as F

    from purescript_ifrit_spark.functions import hashing as H
    from purescript_ifrit_spark.functions import text as X

    out = run_query(
        spark, docs.limit(200), "SELECT doc_id, MINHASH(text) AS sig"
    )
    got = {r.doc_id: r.sig for r in out.collect()}
    ref_rows = (
        docs.limit(200)
        .select(
            "doc_id",
            H.minhash_signature(
                X.word_shingles(F.col("text"), 3), 16
            ).alias("s"),
        )
        .collect()
    )

    def hx(v: int) -> str:
        return format(v & ((1 << 64) - 1), "X")

    ref = {
        r.doc_id: (None if r.s is None else ":".join(hx(v) for v in r.s))
        for r in ref_rows
    }
    assert got == ref
    # normalization variants share signatures; blank/NULL stay NULL
    probe = spark.createDataFrame(
        [(1, "Alpha beta GAMMA delta"), (2, " alpha  beta gamma\tdelta "),
         (3, ""), (4, None)],
        "doc_id long, text string",
    )
    sig = {r.doc_id: r.sig for r in run_query(
        spark, probe, "SELECT doc_id, MINHASH(text) AS sig"
    ).collect()}
    assert sig[1] == sig[2] and sig[1] is not None
    assert sig[3] is None and sig[4] is None


def test_simhash_parse_analyze_golden():
    """SIMHASH goldens (r10): lexes as a function token (prefix-safe
    beside SUM), types string→string, rejects non-string args, and
    serves as a GROUP BY key."""
    from purescript_ifrit_spark.analyzer import analyze
    from purescript_ifrit_spark.parser import parse_sql
    from purescript_ifrit_spark.plans.ast import FnCall
    from purescript_ifrit_spark.schema import schema_from_json

    stmt = parse_sql("SELECT SUM(doc_id) AS s GROUP BY SIMHASH(text)")
    assert isinstance(stmt.group_by, FnCall)
    assert stmt.group_by.fn == "SIMHASH" and stmt.group_by.path == "text"
    schema = schema_from_json({"doc_id": "number", "text": "string"})
    assert analyze(schema, stmt).to_json_obj()["_id"] == "string"
    proj = analyze(
        schema, parse_sql("SELECT doc_id, SIMHASH(text) AS sig")
    ).to_json_obj()
    assert proj["sig"] == "string"
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(DOC_SCHEMA, "SELECT SIMHASH(doc_id) AS sig")


def test_simhash_dialect_matches_dedup_family(spark, docs):
    """The dialect scalar must be BIT-IDENTICAL to the operators/dedup
    simhash family (xxhash64 per normalized word token, sign rule
    2·count_set(k) > n_tokens) — the contract that makes
    GROUP BY SIMHASH(text) exactly that family's hamming-0 tier. Word
    REORDERING shares signatures (token multiset unchanged — the
    property MinHash shingles do NOT have); blank/NULL stay NULL."""
    from purescript_ifrit_spark.operators.dedup import simhash_signatures

    out = run_query(
        spark, docs.limit(200), "SELECT doc_id, SIMHASH(text) AS sig"
    )
    got = {r.doc_id: r.sig for r in out.collect()}
    # the dedup relation filters blank docs; the dialect keeps NULL rows
    ref = {
        r._id: format(r._sig & ((1 << 64) - 1), "016X")
        for r in simhash_signatures(docs.limit(200), "doc_id", "text").collect()
    }
    for doc_id, sig in got.items():
        if sig is not None:
            assert sig == ref[doc_id], doc_id
    probe = spark.createDataFrame(
        [(1, "Alpha beta GAMMA delta"), (2, " alpha  beta gamma\tdelta "),
         (3, "delta gamma beta alpha"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    s = {r.doc_id: r.sig for r in run_query(
        spark, probe, "SELECT doc_id, SIMHASH(text) AS sig"
    ).collect()}
    assert s[1] == s[2] == s[3] and s[1] is not None
    assert s[4] is None and s[5] is None


def test_nfc_parse_analyze_and_matches_operator(spark):
    """NFC goldens (r9): lexes as a function token, types string→string,
    rejects non-string args, groups; values are identical to the
    operators/text_cleaning.normalize_unicode kernel, and rendered SQL
    run by hand works after register_sql_functions."""
    from purescript_ifrit_spark.analyzer import analyze
    from purescript_ifrit_spark.functions.dialect_ext import (
        register_sql_functions,
    )
    from purescript_ifrit_spark.operators.text_cleaning import (
        normalize_unicode,
    )
    from purescript_ifrit_spark.parser import parse_sql
    from purescript_ifrit_spark.plans.spark_sql import to_spark_sql as tss
    from purescript_ifrit_spark.schema import schema_from_json

    schema = schema_from_json({"doc_id": "number", "text": "string"})
    proj = analyze(
        schema, parse_sql("SELECT doc_id, NFC(text) AS t")
    ).to_json_obj()
    assert proj["t"] == "string"
    grouped = analyze(
        schema, parse_sql("SELECT MIN(doc_id) AS keep GROUP BY NFC(text)")
    ).to_json_obj()
    assert grouped["_id"] == "string"
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(DOC_SCHEMA, "SELECT NFC(doc_id) AS t")

    probe = spark.createDataFrame(
        [(1, "café jalapeño"), (2, "café jalapeño"),
         (3, "plain ascii"), (4, None), (5, "")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.t
        for r in run_query(
            spark, probe, "SELECT doc_id, NFC(text) AS t"
        ).collect()
    }
    want = {
        r.doc_id: r.t_nfc
        for r in normalize_unicode(probe, "text").select(
            "doc_id", "text_nfc"
        ).withColumnRenamed("text_nfc", "t_nfc").collect()
    }
    assert got == want and got[1] == got[2] == "café jalapeño"
    assert got[4] is None and got[5] == ""
    # composed/decomposed collapse under the grouped dedup shape
    keep = run_query(
        spark, probe, "SELECT MIN(doc_id) AS keep GROUP BY NFC(text)"
    )
    assert keep.count() == 4  # {1,2} share a group
    # hand-run rendered SQL through the registered session UDF
    register_sql_functions(spark)
    probe.createOrReplaceTempView("nfc_probe_v")
    via_sql = {
        r.doc_id: r.t
        for r in spark.sql(
            tss(parse_sql("SELECT doc_id, NFC(text) AS t"), "nfc_probe_v")
        ).collect()
    }
    assert via_sql == got


def test_bm25_parse_analyze_golden():
    """Parser/analyzer goldens (VERDICT r8 #6): BM25 lexes as a function
    token (digits inside a function name exercise the word-char boundary
    rule), types as number, rejects non-string args, and serves as a
    GROUP BY key and a WHERE operand."""
    from purescript_ifrit_spark.analyzer import analyze
    from purescript_ifrit_spark.parser import parse_sql
    from purescript_ifrit_spark.plans.ast import FnCall
    from purescript_ifrit_spark.schema import schema_from_json

    stmt = parse_sql("SELECT COUNT(doc_id) AS n GROUP BY BM25(text)")
    assert isinstance(stmt.group_by, FnCall)
    assert stmt.group_by.fn == "BM25" and stmt.group_by.path == "text"
    schema = schema_from_json({"doc_id": "number", "text": "string"})
    grouped = analyze(schema, stmt).to_json_obj()
    assert grouped["_id"] == "number"
    proj = analyze(
        schema, parse_sql("SELECT doc_id, BM25(text) AS score")
    ).to_json_obj()
    assert proj["score"] == "number"
    # WHERE operand parses and types
    analyze(schema, parse_sql("SELECT doc_id WHERE BM25(text) > 2.0"))
    with pytest.raises(E.IfritError, match="incompatible"):
        compile_query(DOC_SCHEMA, "SELECT BM25(doc_id) AS score")


def test_bm25_dialect_matches_hand_reference(spark):
    """The dialect scalar must equal a from-scratch Python recomputation
    of the frozen-model Okapi formula (idf, k1, b, avgdl pinned in
    dialect_ext.BM25_*): tf saturation, length normalization, blank → 0,
    NULL → NULL, round-6 convention."""
    from purescript_ifrit_spark.functions.dialect_ext import BM25_K1, BM25_QUERY

    fixtures = [
        (1, "spark join merge spark"),
        (2, "the quick brown fox"),
        (3, "Spark   SPARK\tspark"),  # normalization: case + whitespace
        (4, ""),
        (5, None),
        (6, "join " * 200),  # long doc: length normalization bites
    ]

    probe = spark.createDataFrame(fixtures, "doc_id long, text string")
    got = {
        r.doc_id: r.score
        for r in run_query(
            spark, probe, "SELECT doc_id, BM25(text) AS score"
        ).collect()
    }
    want = {i: _bm25_reference(t) for i, t in fixtures}
    assert got == want
    assert got[4] == 0.0 and got[5] is None
    # a matching doc outscores a non-matching one; saturation keeps the
    # 200-term doc finite and below idf-sum * (k1+1)/1-ish ceiling
    assert got[1] > got[2] == 0.0
    assert 0.0 < got[6] < sum(i for _, i in BM25_QUERY) * (BM25_K1 + 1.0)


def test_jl_project_dialect_matches_arrow_operator(spark, sf_dir):
    # JL_PROJECT(embedding) through the compiler must equal the Arrow
    # operator jl_project bit-for-bit
    from pyspark.sql import functions as F

    from purescript_ifrit_spark.operators.vectorize import jl_project
    from purescript_ifrit_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    via_dialect = sorted(map(tuple, run_query(
        spark, emb, "SELECT vec_id, JL_PROJECT(embedding) AS p"
    ).select("vec_id", F.col("p").cast("array<long>")).collect()))
    from purescript_ifrit_spark.operators.vectorize import jl_quantize_sql

    q = emb.select(
        "vec_id", F.expr(jl_quantize_sql("embedding")).alias("qv")
    )
    via_op = sorted(map(tuple, jl_project(
        q, "vec_id", "qv", 64, 16, seed=1).collect()))
    assert via_dialect == via_op



def test_jl_project_rejects_non_array_and_types_array():
    import pytest as _pytest

    from purescript_ifrit_spark.api import compile_query

    plan = compile_query(
        {"vec_id": "number", "embedding": ["number"]},
        "SELECT JL_PROJECT(embedding) AS p",
    )
    assert plan.output_schema.fields["p"].kind == "array"
    with _pytest.raises(Exception, match="incompatible type"):
        compile_query(
            {"text": "string"}, "SELECT JL_PROJECT(text) AS p"
        )


def test_pq_encode_dialect_lockstep_and_codes(spark):
    """PQ_ENCODE (r13, VERDICT r12 #6): the Spark-SQL rendering must equal
    the Column form pq_code_expr on arbitrary vectors; the
    codes must replay the numpy argmin against the frozen one-hot
    codebook exactly (ties -> lowest center, the pq_encode contract);
    wrong-length and null-element vectors yield NULL, never a shared
    constant."""
    import numpy as np
    from pyspark.sql import functions as F

    from purescript_ifrit_spark.operators.vectorize import (
        JL_IN_DIM,
        PQ_DIA_K,
        PQ_DIA_M,
        PQ_DIA_SUB,
        pq_code_dialect_sql,
        pq_code_expr,
    )

    rng = np.random.RandomState(17)
    vecs = rng.standard_normal((40, JL_IN_DIM))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows.append((100, [1.0] * 8))            # wrong length -> NULL
    rows.append((101, [None] + [0.0] * 63))  # null element -> NULL
    rows.append((102, [0.0] * JL_IN_DIM))    # all-tied -> lowest centers
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    both = df.select(
        "vec_id",
        pq_code_expr(F.col("embedding")).alias("c_col"),
        F.expr(pq_code_dialect_sql("embedding")).alias("c_sql"),
    ).collect()
    got = {}
    for r in both:
        assert r.c_col == r.c_sql, (r.vec_id, r.c_col, r.c_sql)
        got[r.vec_id] = r.c_col
    assert got[100] is None and got[101] is None
    assert got[102] == "0:0:0:0"

    # numpy replay of the frozen codebook
    books = np.zeros((PQ_DIA_M, PQ_DIA_K, PQ_DIA_SUB))
    for s in range(PQ_DIA_M):
        for j in range(PQ_DIA_K):
            books[s, j, j] = 1.0
    for i in range(40):
        want = []
        for s in range(PQ_DIA_M):
            sl = vecs[i, s * PQ_DIA_SUB:(s + 1) * PQ_DIA_SUB]
            d = ((sl[None, :] - books[s]) ** 2).sum(1)
            want.append(int(np.argmin(d)))  # first min = lowest center
        assert got[i] == ":".join(str(c) for c in want), (i, got[i], want)

    # dialect surface: lexes as a function, groups, and the planner
    # rejects non-array args
    from purescript_ifrit_spark.api import run_query

    grouped = run_query(
        spark,
        df.filter(F.col("vec_id").isin(0, 102)),
        "SELECT COUNT(vec_id) AS n GROUP BY PQ_ENCODE(embedding)",
    )
    assert grouped.count() == 2
    with pytest.raises(Exception):
        run_query(
            spark,
            spark.createDataFrame([(1, "x")], "vec_id long, text string"),
            "SELECT PQ_ENCODE(text) AS c",
        )
