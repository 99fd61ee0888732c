"""§2.7 extensions exposed IN the dialect (xd_*): dialect-SQL strings through the full compiler."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purescript_ifrit_spark.api import run_query
from purescript_ifrit_spark.sources.tables import load_table
from purescript_ifrit_spark.operators.text_cleaning import (
    html_text_sql as _html_text_sql,
)
from purescript_ifrit_spark.suite._registry import (
    _dialect,
    register,
)
from purescript_ifrit_spark.suite._fixtures import (
    _NORM_SQL,
    _QUALITY_ORACLE_EXPR,
    _QUALITY_ORACLE_INPUTS,
    _pii_aug_col,
    _redact_dialect_oracle,
    _xd_lang_oracle,
    _xd_split_oracle,
)



# ---------------------------------------------------------------------------
# §2.7 extensions exposed IN the dialect (functions/dialect_ext.py): these
# entries run dialect-SQL strings through the full compiler, not Python API
# calls — the hard signal that a query-engine user can reach the operators
# ---------------------------------------------------------------------------

register(
    "xd_dedup_exact",
    f"SELECT min(doc_id) AS doc_id, md5({_NORM_SQL}) AS _id "
    f"FROM documents GROUP BY md5({_NORM_SQL})",
)(
    _dialect(
        "documents",
        "SELECT MIN(doc_id) AS doc_id GROUP BY FINGERPRINT(text)",
    )
)

register(
    "xd_token_count",
    "SELECT doc_id, "
    f"CAST(CASE WHEN length({_NORM_SQL}) = 0 THEN 0 "
    f"ELSE len(string_split({_NORM_SQL}, ' ')) END AS BIGINT) AS n_tokens "
    "FROM documents",
)(
    _dialect(
        "documents",
        "SELECT doc_id, TOKEN_COUNT(text) AS n_tokens",
        post=lambda df: df.withColumn(
            "n_tokens", F.col("n_tokens").cast("long")
        ),
    )
)

register(
    "xd_quality",
    "SELECT doc_id, " + _QUALITY_ORACLE_EXPR + " AS q FROM ("
    + _QUALITY_ORACLE_INPUTS + ") t",
)(_dialect("documents", "SELECT doc_id, QUALITY(text) AS q"))


register("xd_lang_id", _xd_lang_oracle())(
    _dialect("documents", "SELECT doc_id, LANG_ID(text) AS lang")
)

register(
    "xd_chunk",
    # chunks joined on the unit separator so the compared cell is a string
    # (list-cell hashing differs across engines; precedent: a7_push_collect)
    "WITH t AS (SELECT doc_id, "
    f"string_split({_NORM_SQL}, ' ') AS toks FROM documents) "
    "SELECT doc_id, array_to_string(list_transform("
    "range(0, 1 + CAST(ceil(greatest(len(toks) - 64, 0) / 56.0) AS BIGINT)), "
    "i -> array_to_string(toks[CAST(i*56+1 AS INT):CAST(i*56+64 AS INT)], ' ')"
    "), chr(31)) AS chunks FROM t",
)(
    _dialect(
        "documents",
        "SELECT doc_id, CHUNK(text) AS chunks",
        post=lambda df: df.withColumn(
            "chunks", F.array_join(F.col("chunks"), "\x1f")
        ),
    )
)

register(
    "xd_quality_filter",
    # composition: extension scalar in a derived table, filtered outside —
    # the curation idiom expressed entirely in the dialect. The > 0.5
    # comparison is exact: q is integer deci-micros / 10⁷ on both engines
    "SELECT doc_id FROM (SELECT doc_id, " + _QUALITY_ORACLE_EXPR + " AS q "
    "FROM (" + _QUALITY_ORACLE_INPUTS + ") a) b WHERE q > 0.5",
)(
    _dialect(
        "documents",
        "SELECT doc_id FROM (SELECT doc_id, QUALITY(text) AS q) WHERE q > 0.5",
    )
)


register(
    "xd_quality_where",
    # same truth as xd_quality_filter, reached through the WHERE-operand
    # extension instead of the derived-table idiom
    "SELECT doc_id FROM (SELECT doc_id, " + _QUALITY_ORACLE_EXPR + " AS q "
    "FROM (" + _QUALITY_ORACLE_INPUTS + ") a) b WHERE q > 0.5",
)(
    _dialect("documents", "SELECT doc_id WHERE QUALITY(text) > 0.5")
)


register("xd_split", _xd_split_oracle())(
    # dialect-level dataset splitting over a NUMERIC id (exercises the
    # string-or-number arg typing of SPLIT)
    _dialect("documents", "SELECT doc_id, SPLIT(doc_id) AS split")
)


@register("xd_redact", _redact_dialect_oracle())
def xd_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction reached through the DIALECT (`REDACT(x)`): the full
    compiler path (lexer → parser → analyzer → planner), verified
    byte-exact on planted PII."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id", _pii_aug_col(with_boilerplate=False).alias("x")
    )
    out = run_query(spark, aug, "SELECT doc_id, REDACT(x) AS clean")
    return out.select("doc_id", F.md5("clean").alias("fp"))


# ===========================================================================
# dialect temporal functions (TUMBLE / SESSIONIZE — functions/dialect_ext.py)
# ===========================================================================

register(
    "xd_tumble_hourly",
    # tz-free hour bucketing in epoch SECONDS (fits the dialect's float
    # numbers exactly; micros would exceed double's 2^53 integer range)
    "SELECT COUNT(*) AS n, "
    "CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600 AS _id "
    "FROM events GROUP BY 2",
)(_dialect("events", "SELECT COUNT(event_id) AS n GROUP BY TUMBLE(ts)"))

register(
    "xd_sessionize",
    # same window construction as x_sessionize's oracle, projected per-row:
    # the dialect SESSIONIZE fixes key=user_id, tiebreak=event_id, gap=30min
    "WITH s AS (SELECT event_id, user_id, ts, "
    "  CASE WHEN lag(ts) OVER w IS NULL "
    "       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 "
    "  THEN 1 ELSE 0 END AS new_s FROM events "
    "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
    "SELECT event_id, CAST(SUM(new_s) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id "
    "FROM s",
)(_dialect("events", "SELECT event_id, SESSIONIZE(ts) AS session_id"))


@register(
    "xd_htmltext",
    # HTMLTEXT through the full compiler path, on deterministically
    # synthesized HTML; md5 keeps the comparison byte-exact
    "WITH h AS (SELECT doc_id, "
    "'<div><h1>D' || doc_id || '</h1><p>' || text || "
    "'</p><script>x()</script></div>' AS x FROM documents) "
    "SELECT doc_id, md5(" + _html_text_sql("x") + ") AS fp FROM h",
)
def xd_htmltext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML visible-text extraction reached through the DIALECT
    (`HTMLTEXT(x)`): the full compiler path over synthesized markup."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.lit("<div><h1>D"),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p><script>x()</script></div>"),
        ).alias("x"),
    )
    out = run_query(spark, aug, "SELECT doc_id, HTMLTEXT(x) AS clean")
    return out.select("doc_id", F.md5("clean").alias("fp"))


_XD_TOK = (
    "WITH tok AS (SELECT doc_id, "
    "UNNEST(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), "
    "' ')) AS t FROM documents) "
)


@register(
    "xd_vectorize",
    # VECTORIZE through the full compiler path: the dim-16 hashing-trick
    # vector is a pure integer function of the text (md5 bucket + sign),
    # so the oracle recomputes every coordinate exactly; flat posexplode
    # rows for the driver comparator (no ArrayType on the oracle surface)
    _XD_TOK + ", b AS (SELECT doc_id, "
    "CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16 AS bucket, "
    "CASE WHEN CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2 = 0 "
    "THEN 1 ELSE -1 END AS s FROM tok WHERE t <> ''), "
    "g AS (SELECT doc_id, bucket, SUM(s) AS v FROM b GROUP BY doc_id, bucket) "
    "SELECT d.doc_id, CAST(r.i AS INT) AS pos, "
    "CAST(COALESCE(g.v, 0) AS BIGINT) AS val "
    "FROM documents d CROSS JOIN UNNEST(range(0, 16)) AS r(i) "
    "LEFT JOIN g ON g.doc_id = d.doc_id AND g.bucket = r.i",
)
def xd_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization reached through the DIALECT
    (`VECTORIZE(text)` → operators/vectorize.vectorize_sql, value-equal
    to feature_hash_sparse — pinned in test_dialect_ext)."""
    docs = load_table(spark, sf_dir, "documents")
    out = run_query(spark, docs, "SELECT doc_id, VECTORIZE(text) AS v")
    return out.select(
        "doc_id", F.posexplode("v").alias("pos", "_val")
    ).select("doc_id", "pos", F.col("_val").cast("long").alias("val"))


@register(
    "xd_quality_score",
    # QUALITY_SCORE through the full compiler path: the linear margin is a
    # pure INTEGER function of the text (integer weights by construction),
    # so the oracle recomputes it exactly — no sigmoid, no float sums
    _XD_TOK + ", m AS (SELECT doc_id, "
    "(CASE WHEN CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2 = 0 "
    "THEN 1 ELSE -1 END) * "
    "(((CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16) * 2654435761) "
    "% 201 - 100) AS c FROM tok WHERE t <> '') "
    "SELECT d.doc_id, CAST(COALESCE(SUM(m.c), 0) AS BIGINT) AS margin, "
    "COALESCE(SUM(m.c), 0) >= 0 AS keep "
    "FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id GROUP BY d.doc_id",
)
def xd_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality filter reached through the DIALECT
    (`QUALITY_SCORE(text)` → operators/vectorize.hash_margin_sql,
    value-equal to linear_hash_score under margin_weights — pinned in
    test_dialect_ext)."""
    docs = load_table(spark, sf_dir, "documents")
    out = run_query(spark, docs, "SELECT doc_id, QUALITY_SCORE(text) AS m")
    return out.select(
        "doc_id",
        F.col("m").cast("long").alias("margin"),
        (F.col("m") >= 0).alias("keep"),
    )


@register(
    "xd_image_dhash",
    # IMAGE_DHASH through the full compiler path (VERDICT r6 #6 — the
    # HTMLTEXT/VECTORIZE precedent reaching the newest operator family):
    # per doc, ONE 8×72 stripe raster (9 vertical 8px stripes of value
    # a_j = (doc_id·13 + j·29) % 256) is shipped as netpbm P5, baseline
    # PNG and baseline JPEG (c = 0/1/2; media_id = doc_id·4 + c). Stripe
    # boundaries coincide with the dHash 8×9 cell grid, so every cell
    # mean is exactly a_j and the hash is closed-form: bit 8i+j set iff
    # a_{j+1} > a_j — identical across all three codecs (the sniffing
    # dispatch), recomputed by the oracle in signed-64 arithmetic
    # (bit 63 contributes −2⁶³; all other set bits are positive).
    "WITH m AS (SELECT doc_id, doc_id * 4 + c AS media_id "
    "FROM documents, UNNEST([0, 1, 2]) t(c)), "
    "bits AS (SELECT media_id, i, j, CASE WHEN "
    "(doc_id * 13 + (j + 1) * 29) % 256 > (doc_id * 13 + j * 29) % 256 "
    "THEN 1 ELSE 0 END AS b "
    "FROM m, UNNEST(range(0, 8)) ti(i), UNNEST(range(0, 8)) tj(j)) "
    "SELECT media_id, CAST(SUM(CASE WHEN b = 1 THEN "
    "CASE WHEN 8 * i + j = 63 THEN -9223372036854775807 - 1 "
    "ELSE (CAST(1 AS BIGINT) << CAST(8 * i + j AS INT)) END "
    "ELSE 0 END) AS BIGINT) AS dhash FROM bits GROUP BY media_id",
)
def xd_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing reached through the DIALECT
    (`IMAGE_DHASH(payload)` → the codec-sniffing pandas_udf over
    operators/multimodal._make_payload_dhash), with each raster planted
    in three real codecs so the decode dispatch itself is under the
    value oracle."""
    from purescript_ifrit_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _make_jpeg_encoder,
        _make_png_encoder,
    )

    png_enc = _make_png_encoder()
    jpg_enc, _ = _make_jpeg_encoder()

    def gen(batches):
        # self-contained worker closure: png_enc/jpg_enc are factory
        # nested functions, pickled by value
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                a = np.array(
                    [(i * 13 + j * 29) % 256 for j in range(9)],
                    dtype=np.uint8,
                )
                raster = np.tile(np.repeat(a, 8), (8, 1))
                p5 = b"P5\n72 8\n255\n" + raster.tobytes()
                png = png_enc(raster[:, :, None])
                jpg = jpg_enc(a.astype(np.int64).reshape(1, 9))
                for c, payload in enumerate((p5, png, jpg)):
                    ids.append(i * 4 + c)
                    payloads.append(payload)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "meta": [{"mime": "image/mixed", "source": "synth"}]
                    * len(ids),
                }
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.mapInPandas(gen, MEDIA_SCHEMA)
    return run_query(
        spark, media, "SELECT media_id, IMAGE_DHASH(payload) AS dhash"
    )


def _xd_gopher_oracle() -> str:
    from purescript_ifrit_spark.suite.text import _gopher_oracle

    return _gopher_oracle(pass_only=True)


@register("xd_gopher", _xd_gopher_oracle())
def xd_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-set pass/fail reached through the DIALECT
    (`GOPHER(text)` → operators/text_analysis.gopher_pass_sql): the
    oracle re-derives every rule from scratch, so a single wrongly
    passed/failed document flips a boolean and fails the value hash
    (per-rule audit values are pinned by x_gopher_quality)."""
    docs = load_table(spark, sf_dir, "documents")
    return run_query(spark, docs, "SELECT doc_id, GOPHER(text) AS gpass")


def _xd_minhash_oracle() -> str:
    # The signature VALUE is Spark-xxhash64-specific (DuckDB cannot
    # recompute it), but the PARTITION it induces on a DISJOINT-token
    # corpus is deterministic: identical norm text ⇒ identical signature
    # always; docs with per-doc token namespaces share no shingles, so
    # distinct docs collide only if 16 independent 64-bit lane minima
    # all collide (≪ 2^-200 — the planted-oracle convention). The raw
    # `documents` table is NOT usable here: it carries planted
    # near-duplicates (word jaccard up to 1.0 after normalization)
    # whose full-signature collision at probability j^16 is GENUINE
    # MinHash behavior — 15 of 500 groups merge at sf0.001. The oracle
    # groups by the norm text itself; the signature string never
    # reaches the comparator (stripped by the derived-table projection).
    return (
        "WITH base AS ("
        "  SELECT doc_id, array_to_string(list_transform(range(1, 41), "
        "  k -> 't' || doc_id || 'x' || k), ' ') AS text FROM documents"
        "), a AS ("
        "  SELECT doc_id, text FROM base"
        "  UNION ALL SELECT doc_id + 1000000000000, text FROM base "
        "  WHERE doc_id % 3 = 0"
        "  UNION ALL SELECT doc_id + 2000000000000, "
        "  replace(text, ' ', chr(10)) FROM base WHERE doc_id % 5 = 0"
        "), n AS ("
        "  SELECT doc_id, "
        "  NULLIF(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '') "
        "  AS nt FROM a) "
        "SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups "
        "FROM n GROUP BY nt"
    )


@register("xd_minhash", _xd_minhash_oracle())
def xd_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures reached through the DIALECT (`MINHASH(text)` →
    functions/hashing.minhash_hexsig_sql, the 16 lanes the operators/dedup
    LSH family reads, bit-pinned in test_dialect_ext): signature-exact
    dedup groups over a disjoint-token planted corpus (cross-doc
    jaccard 0 — see the oracle note on why raw `documents` cannot work)
    with exact copies (doc_id%3) and whitespace-mangled copies (doc_id%5
    — every space becomes a newline, proving normalize-before-shingle
    on both engines). The derived-table projection strips the
    engine-specific signature, so the driver compares the induced
    (keep_id, n_dups) partition profile."""
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda k: F.concat(
            F.lit("t"), F.col("doc_id").cast("string"), F.lit("x"),
            k.cast("string"),
        ),
    )
    base = ids.select("doc_id", F.array_join(toks, " ").alias("text"))
    aug = (
        base.unionAll(
            base.filter(F.col("doc_id") % 3 == 0).select(
                F.col("doc_id") + F.lit(1_000_000_000_000).cast("long"),
                "text",
            )
        )
        .unionAll(
            base.filter(F.col("doc_id") % 5 == 0).select(
                F.col("doc_id") + F.lit(2_000_000_000_000).cast("long"),
                F.translate(F.col("text"), " ", "\n").alias("text"),
            )
        )
    )
    return run_query(
        spark,
        aug,
        "SELECT keep_id, n_dups FROM "
        "(SELECT MIN(doc_id) AS keep_id, COUNT(doc_id) AS n_dups "
        "GROUP BY MINHASH(text))",
    )


def _xd_simhash_oracle() -> str:
    # The xd_minhash partition-profile recipe under SIMHASH semantics,
    # with one addition the MinHash entry cannot make: a REORDERED-copy
    # family (doc_id%7 — token order reversed). SimHash is a pure
    # function of the token MULTISET, so reordered copies MUST share the
    # original's signature (every shingle-based MinHash signature
    # changes instead); the oracle therefore groups by the SORTED-token
    # canon of the normalized text — multiset-canonical, engine-neutral.
    # Disjoint per-doc token namespaces keep cross-doc collisions at the
    # planted-oracle convention's negligible-probability tier, and the
    # signature string itself never reaches the comparator (stripped by
    # the derived-table projection).
    return (
        "WITH base AS ("
        "  SELECT doc_id, array_to_string(list_transform(range(1, 41), "
        "  k -> 't' || doc_id || 'x' || k), ' ') AS text FROM documents"
        "), a AS ("
        "  SELECT doc_id, text FROM base"
        "  UNION ALL SELECT doc_id + 1000000000000, text FROM base "
        "  WHERE doc_id % 3 = 0"
        "  UNION ALL SELECT doc_id + 2000000000000, "
        "  replace(text, ' ', chr(10)) FROM base WHERE doc_id % 5 = 0"
        "  UNION ALL SELECT doc_id + 3000000000000, "
        "  array_to_string(list_reverse(string_split(text, ' ')), ' ') "
        "  FROM base WHERE doc_id % 7 = 0"
        "), n AS ("
        "  SELECT doc_id, "
        "  NULLIF(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '') "
        "  AS nt FROM a) "
        "SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups "
        "FROM n GROUP BY array_to_string(list_sort(string_split(nt, ' ')), ' ')"
    )


@register("xd_simhash", _xd_simhash_oracle())
def xd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures reached through the DIALECT (`SIMHASH(text)` →
    functions/hashing.simhash_hex_sql, bit-identical to the operators/dedup
    simhash family, pinned in test_dialect_ext): signature-exact dedup
    groups over the disjoint-token planted corpus with exact copies
    (doc_id%3), whitespace-mangled copies (doc_id%5 — normalize-first on
    both engines) and REVERSED-token copies (doc_id%7 — the
    reorder-invariance MinHash shingles cannot have, which is why this
    entry exists beside xd_minhash). The derived-table projection strips
    the engine-specific signature; the driver compares the induced
    (keep_id, n_dups) partition profile."""
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda k: F.concat(
            F.lit("t"), F.col("doc_id").cast("string"), F.lit("x"),
            k.cast("string"),
        ),
    )
    base = ids.select("doc_id", F.array_join(toks, " ").alias("text"))
    aug = (
        base.unionAll(
            base.filter(F.col("doc_id") % 3 == 0).select(
                F.col("doc_id") + F.lit(1_000_000_000_000).cast("long"),
                "text",
            )
        )
        .unionAll(
            base.filter(F.col("doc_id") % 5 == 0).select(
                F.col("doc_id") + F.lit(2_000_000_000_000).cast("long"),
                F.translate(F.col("text"), " ", "\n").alias("text"),
            )
        )
        .unionAll(
            base.filter(F.col("doc_id") % 7 == 0).select(
                F.col("doc_id") + F.lit(3_000_000_000_000).cast("long"),
                F.array_join(
                    F.reverse(F.split(F.col("text"), " ")), " "
                ).alias("text"),
            )
        )
    )
    return run_query(
        spark,
        aug,
        "SELECT keep_id, n_dups FROM "
        "(SELECT MIN(doc_id) AS keep_id, COUNT(doc_id) AS n_dups "
        "GROUP BY SIMHASH(text))",
    )


def _xd_bm25_oracle() -> str:
    # generated FROM the frozen model constants (dialect_ext.BM25_*), so
    # a constant tweak cannot leave the oracle behind — the same
    # one-definition discipline as the GOPHER thresholds. The DuckDB
    # expression mirrors the backends' association order exactly; all
    # constants are exact binary fractions and tf/dl are integers, so
    # the only inexact steps (the divisions, the idf products) are
    # IEEE-correctly-rounded identically on both engines.
    from purescript_ifrit_spark.functions.dialect_ext import (
        BM25_AVGDL,
        BM25_B,
        BM25_K1,
        BM25_QUERY,
    )

    nt = _NORM_SQL
    pad = f"(' ' || replace({nt}, ' ', '  ') || ' ')"
    dl = (
        f"CAST(CASE WHEN length({nt}) = 0 THEN 0 "
        f"ELSE length({nt}) - length(replace({nt}, ' ', '')) + 1 END "
        "AS DOUBLE)"
    )
    load = f"({1.0 - BM25_B!r} + ({BM25_B!r} * ({dl} / {BM25_AVGDL!r})))"
    parts = []
    for term, idf in BM25_QUERY:
        m = float(len(term) + 2)
        tf = (
            f"(CAST((length({pad}) - length(replace({pad}, ' {term} ', ''))) "
            f"AS DOUBLE) / {m!r})"
        )
        parts.append(
            f"({idf!r} * (({tf} * {BM25_K1 + 1.0!r}) "
            f"/ ({tf} + ({BM25_K1!r} * {load}))))"
        )
    total = parts[0]
    for p in parts[1:]:
        total = f"({total} + {p})"
    return f"SELECT doc_id, round({total}, 6) AS score FROM documents"


register(
    "xd_bm25",
    _xd_bm25_oracle(),
)(
    _dialect(
        "documents",
        # corpus-frozen Okapi BM25 reached through the DIALECT
        # (`BM25(text)` → functions/dialect_ext._bm25_column): scores
        # every document against the pinned query with pinned index
        # statistics; the oracle recomputes the full saturation +
        # length-normalization arithmetic from scratch in DuckDB
        "SELECT doc_id, BM25(text) AS score",
    )
)


def _xd_c4_oracle() -> str:
    from purescript_ifrit_spark.suite.text import _C4_AUG_SQL, _C4_KEEP_SQL

    return (
        f"WITH a AS (SELECT doc_id, {_C4_AUG_SQL} AS x FROM documents), "
        f"k AS (SELECT doc_id, x, {_C4_KEEP_SQL} AS kept FROM a) "
        "SELECT doc_id, (len(kept) >= 3 "
        "AND NOT contains(lower(x), 'lorem ipsum') "
        "AND NOT contains(x, '{')) AS cpass FROM k"
    )


@register("xd_c4", _xd_c4_oracle())
def xd_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page-level pass/fail reached through the DIALECT
    (`C4PASS(text)` → operators/text_cleaning.c4_pass_sql) on the
    planted lined corpus — the oracle re-derives every line and page
    rule from scratch (per-line audit values are pinned by
    x_c4_line_filter)."""
    from purescript_ifrit_spark.suite.text import _c4_aug_expr

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _c4_aug_expr().alias("text"))
    return run_query(spark, aug, "SELECT doc_id, C4PASS(text) AS cpass")


def _xd_jl_oracle() -> str:
    # ONE oracle builder shared with x_jl_project (suite/vectors.py) —
    # only the position alias differs
    from purescript_ifrit_spark.suite.vectors import jl_projection_oracle

    return jl_projection_oracle("pos")


@register("xd_jl_project", _xd_jl_oracle())
def xd_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL projection reached through the DIALECT (`JL_PROJECT(embedding)`
    → operators/vectorize.jlproject_dialect_sql — the first array-argument
    extension function; quantize + 64→16 projection in one scan-stage
    expression, value-equal to the Arrow operator jl_project, pinned in
    test_dialect_ext). Flat posexplode rows for the driver comparator."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = run_query(spark, emb, "SELECT vec_id, JL_PROJECT(embedding) AS p")
    return out.select(
        "vec_id", F.posexplode("p").alias("pos", "_v")
    ).select("vec_id", "pos", F.col("_v").cast("long").alias("val"))


def _xd_nfc_oracle() -> str:
    # composed (é, ñ) vs decomposed (e+U+0301, n+U+0303) twins must share
    # one NFC group; the ASCII base corpus is NFC-invariant on any
    # Unicode version (the x_unicode_nfc stability argument)
    return (
        "WITH a AS ("
        "  SELECT doc_id, text FROM documents"
        "  UNION ALL SELECT doc_id + 1000000000000, "
        "  text || ' cafe' || chr(769) || ' jalapen' || chr(771) || 'o' "
        "  FROM documents WHERE doc_id % 4 = 0"
        "  UNION ALL SELECT doc_id + 2000000000000, "
        "  text || ' caf' || chr(233) || ' jalape' || chr(241) || 'o' "
        "  FROM documents WHERE doc_id % 4 = 0) "
        "SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups "
        "FROM a GROUP BY nfc_normalize(text)"
    )


@register("xd_nfc", _xd_nfc_oracle())
def xd_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization reached through the DIALECT (`GROUP BY
    NFC(text)` → the Arrow pandas_udf normalizer): decomposed and
    precomposed twins of each doc_id % 4 == 0 document must collapse to
    ONE group — the canonicalization-aware dedup key — while the ASCII
    base corpus stays untouched. DuckDB recomputes the groups with
    utf8proc's nfc_normalize."""
    docs = load_table(spark, sf_dir, "documents")
    dec = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000_000_000).cast("long")).alias(
            "doc_id"
        ),
        # explicit escapes so an editor cannot silently NFC-normalize
        # the fixture source (combining acute/tilde = the DECOMPOSED form)
        F.concat(
            F.col("text"),
            F.lit(" cafe\u0301 jalapen\u0303o"),
        ).alias("text"),
    )
    com = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000_000_000).cast("long")).alias(
            "doc_id"
        ),
        F.concat(
            F.col("text"), F.lit(" caf\u00e9 jalape\u00f1o")
        ).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionAll(dec).unionAll(com)
    return run_query(
        spark,
        aug,
        "SELECT keep_id, n_dups FROM "
        "(SELECT MIN(doc_id) AS keep_id, COUNT(doc_id) AS n_dups "
        "GROUP BY NFC(text))",
    )


@register(
    "xd_pq",
    # compressed-domain dedup reached through the DIALECT (r13, VERDICT
    # r12 #6): GROUP BY PQ_ENCODE(embedding) collapses a quantization
    # cell of the frozen one-hot codebook. The CODE string is
    # engine-specific arithmetic (DuckDB never recomputes it — the
    # xd_minhash induced-profile convention); the PARTITION it induces
    # on the planted corpus is closed-form: cluster c (vec_ids 6c..6c+5)
    # carries the IDENTICAL one-hot vector with hot dim
    # 16*(c // 4) + (c % 4) + 1, whose unique nearest center in
    # subspace c // 4 is (c % 4) + 1 — NONZERO on purpose: an all-zero
    # subspace slice ties to center 0, so a hot dim of 0 within its
    # subspace would collide with the zero clusters of other subspaces
    # (found by this oracle's first run: 16 -> 13 groups). Other
    # subspaces tie to center 0, giving an injective cluster -> code
    # map: the induced (keep_id, n_dups) profile is exactly the 16
    # planted clusters. The derived-table projection strips the code
    # string before the comparator.
    "SELECT MIN(vec_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups "
    "FROM embeddings WHERE vec_id < 96 GROUP BY vec_id // 6",
)
def xd_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes reached through the DIALECT
    (`PQ_ENCODE(embedding)` → operators/vectorize.pq_code_dialect_sql,
    the frozen m=4 x k=16 one-hot codebook; value-equal to pq_code_expr,
    pinned in test_dialect_ext): signature-exact quantization-cell
    dedup groups over planted one-hot clusters spanning ALL FOUR
    subspaces (cluster c's hot dim is 16*(c // 4) + (c % 4) + 1:
    c // 4 picks the subspace, (c % 4) + 1 the within-subspace
    center — never 0, see the oracle note)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 96)
    cluster = (F.col("vec_id") / 6).cast("int")
    hot = (cluster / 4).cast("int") * 16 + (cluster % 4) + 1
    planted = emb.select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda d: F.when(d == hot, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .cast("float"),
        ).alias("embedding"),
    )
    return run_query(
        spark,
        planted,
        "SELECT keep_id, n_dups FROM "
        "(SELECT MIN(vec_id) AS keep_id, COUNT(vec_id) AS n_dups "
        "GROUP BY PQ_ENCODE(embedding))",
    )
