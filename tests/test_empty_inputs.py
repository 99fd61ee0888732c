"""Empty-input robustness: every library operator must return an empty
(or well-defined) result on an empty frame, never raise. Regressions here
are the classic 'first day on real data' crash (empty partition, empty
filter result, brand-new table)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


@pytest.fixture(scope="module")
def empty_docs(spark):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    return spark.createDataFrame([], schema)


@pytest.fixture(scope="module")
def empty_events(spark):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.createDataFrame([], schema)


def test_dedup_family_on_empty(empty_docs):
    from purescript_ifrit_spark.operators import dedup

    assert dedup.dedup_exact_text(empty_docs, "text", "doc_id").count() == 0
    assert (
        dedup.minhash_candidate_pairs(
            empty_docs, "doc_id", "text", eager=False
        ).count()
        == 0
    )
    assert dedup.dedup_minhash(empty_docs, "doc_id", "text").count() == 0
    assert dedup.simhash_candidate_pairs(empty_docs, "doc_id", "text").count() == 0


def test_text_family_on_empty(empty_docs):
    from purescript_ifrit_spark.operators.text_analysis import (
        chunk_documents,
        quality_score,
        term_stats,
        tfidf_topk,
    )

    assert quality_score(empty_docs, "text").count() == 0
    assert term_stats(empty_docs, "doc_id", "text").count() == 0
    assert tfidf_topk(empty_docs, "doc_id", "text", k=3).count() == 0
    assert chunk_documents(empty_docs, "doc_id", "text").count() == 0


def test_cleaning_and_sampling_on_empty(empty_docs):
    from purescript_ifrit_spark.operators.sampling import (
        budget_sample,
        hash_sample,
        hash_split,
        stratified_fixed_k,
        stratified_sample,
    )
    from purescript_ifrit_spark.operators.text_cleaning import clean_text

    assert clean_text(empty_docs, "text").count() == 0
    assert hash_split(empty_docs, "doc_id").count() == 0
    assert hash_sample(empty_docs, "doc_id", 0.5).count() == 0
    assert stratified_sample(empty_docs, "doc_id", "lang", {"en": 0.5}).count() == 0
    assert stratified_fixed_k(empty_docs, "doc_id", "lang", 3).count() == 0
    docs = empty_docs.withColumn("n_tok", F.lit(1))
    assert budget_sample(docs, "doc_id", "n_tok", 100, group_col="lang").count() == 0


def test_temporal_family_on_empty(empty_events):
    from purescript_ifrit_spark.operators.temporal import (
        asof_join,
        range_join_points,
        rollup_time,
    )

    # empty left, empty right — and the asymmetric cases
    left = empty_events
    right = empty_events.select(
        "user_id", "ts", F.col("value").alias("px")
    )
    assert asof_join(
        left, right, on="user_id", left_ts="ts", payload=["px"]
    ).count() == 0
    iv = empty_events.select(
        "user_id",
        F.col("ts").alias("s"),
        F.col("ts").alias("e"),
        F.col("event_id").alias("iid"),
    )
    assert range_join_points(
        empty_events, iv, on="user_id", ts_col="ts", start_col="s", end_col="e"
    ).count() == 0
    assert rollup_time(empty_events, "ts", ["user_id"], "value").count() == 0


def test_asof_empty_right_keeps_left(spark, empty_events):
    from pyspark.sql import Row

    from purescript_ifrit_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [Row(user_id=1, ts=5, qty=1.0)]
    )
    right = empty_events.select(
        "user_id", F.unix_micros("ts").alias("ts"), F.col("value").alias("px")
    )
    out = asof_join(left, right, on="user_id", left_ts="ts", payload=["px"])
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["px"] is None


def test_windows_and_similarity_on_empty(spark, empty_events):
    from purescript_ifrit_spark.operators.similarity import label_centroids
    from purescript_ifrit_spark.operators.windows import (
        session_stats,
        sessionize,
        topk_per_group,
        tumbling_agg,
    )

    assert sessionize(empty_events, "user_id", "ts").count() == 0
    assert session_stats(empty_events, "user_id", "ts").count() == 0
    assert tumbling_agg(empty_events, "ts", "hour", ("user_id",)).count() == 0
    assert topk_per_group(empty_events, "user_id", "value", 3, "event_id").count() == 0

    schema = T.StructType(
        [
            T.StructField("label", T.IntegerType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    emb = spark.createDataFrame([], schema)
    assert label_centroids(emb, "label", "embedding").count() == 0
    assert label_centroids(emb, "label", "embedding", exact_grid=2**20).count() == 0


def test_round4_operators_on_empty(spark, empty_docs, empty_events):
    from purescript_ifrit_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
    )
    from purescript_ifrit_spark.operators.multimodal import (
        extract_audio_stats,
        extract_pixel_stats,
        synth_ppm_media,
        synth_wav_media,
    )
    from purescript_ifrit_spark.operators.text_analysis import (
        token_rarity_stats,
    )
    from purescript_ifrit_spark.operators.windows import robust_outliers

    assert token_rarity_stats(empty_docs, "doc_id", "text").count() == 0
    assert robust_outliers(empty_events, "user_id", "value").count() == 0
    ids = empty_docs.select("doc_id")
    assert extract_pixel_stats(synth_ppm_media(ids)).count() == 0
    assert extract_audio_stats(synth_wav_media(ids)).count() == 0
    empty_index = build_minhash_index(empty_docs, "doc_id", "text")
    assert empty_index.count() == 0
    # probing an empty index keeps every batch row
    some = spark.createDataFrame(
        [(1, "a real document with several words")], ["doc_id", "text"]
    )
    assert dedup_against_index(some, empty_index, "doc_id", "text").count() == 1
    # empty batch against a real index is empty
    real_index = build_minhash_index(some, "doc_id", "text")
    assert dedup_against_index(
        empty_docs, real_index, "doc_id", "text"
    ).count() == 0


def test_funnels_on_empty(empty_events):
    """ADVICE r4: funnel over zero matching events must report 0 per step
    (the global agg's NULL-sum row), matching the oracle's COUNT(*)=0 —
    e.g. a mistyped step name must not surface NULL counts."""
    from purescript_ifrit_spark.operators.funnels import (
        funnel_counts,
        retention_cohorts,
    )

    ev = empty_events.withColumn("event_type", F.lit("view"))
    out = funnel_counts(
        ev, "user_id", "ts", "event_type", ["view", "cart", "buy"]
    ).collect()
    assert [r["n_users"] for r in sorted(out, key=lambda r: r["step_idx"])] == [
        0,
        0,
        0,
    ]
    assert retention_cohorts(empty_events, "user_id", "ts").count() == 0


def test_funnel_no_matching_step_counts_zero(spark):
    from purescript_ifrit_spark.operators.funnels import funnel_counts

    ev = spark.createDataFrame(
        [(1, 10, "view"), (1, 20, "cart")],
        ["user_id", "ts", "event_type"],
    )
    out = funnel_counts(
        ev, "user_id", "ts", "event_type", ["signup", "upgrade"]
    ).collect()
    assert all(r["n_users"] == 0 for r in out) and len(out) == 2


def test_round5_operators_on_empty(empty_docs):
    from purescript_ifrit_spark.operators.dedup import dedup_subdocument
    from purescript_ifrit_spark.operators.text_analysis import unigram_logprob

    assert dedup_subdocument(empty_docs).count() == 0
    assert unigram_logprob(empty_docs).count() == 0


def test_corpus_report_on_empty(empty_docs):
    from pyspark.sql import functions as F

    from purescript_ifrit_spark.operators.pipeline import corpus_report

    docs = empty_docs.withColumn("lang", F.lit("en"))
    rows = {r["metric"]: r["value"] for r in corpus_report(docs).collect()}
    assert rows["n_docs"] == 0.0
    assert rows["n_tokens"] is None or rows["n_tokens"] == 0.0
    assert rows["dup_rate"] is None  # guarded division, not a crash


def test_c4_line_filter_null_text(spark):
    from purescript_ifrit_spark.operators.text_cleaning import c4_line_filter

    df = spark.createDataFrame([(1, None), (2, "A fine line stays here.")],
                               "id long, t string")
    out = {r.id: r for r in c4_line_filter(df, "id", "t").collect()}
    assert (out[1].n_lines, out[1].n_kept, out[1].text_c4) == (1, 0, "")
    assert out[1].c4_pass is False
    assert out[2].n_kept == 1


def test_dedup_lines_global_null_text_survives(spark):
    from purescript_ifrit_spark.operators.dedup import dedup_lines_global

    df = spark.createDataFrame([(1, None), (2, "keep this line.")],
                               "id long, t string")
    out = {r.id: r for r in dedup_lines_global(df, "id", "t").collect()}
    assert set(out) == {1, 2}             # NULL doc is not dropped
    assert (out[1].n_lines, out[1].n_kept, out[1].text_ldedup) == (1, 1, "")


def test_mmr_topk_empty_corpus(spark):
    from purescript_ifrit_spark.operators.similarity import mmr_topk

    df = spark.createDataFrame([], "id long, v array<long>")
    out = mmr_topk(df, "id", "v", [1, 0], k=3)
    assert out.count() == 0
    assert out.columns == ["rank", "id", "score"]


def test_session4_operators_on_empty(spark, empty_docs, empty_events):
    from purescript_ifrit_spark.operators.privacy import (
        contribution_cap,
        kanon_suppress,
    )
    from purescript_ifrit_spark.operators.temporal import (
        fill_gaps_interp,
        fill_gaps_locf,
        interval_join,
    )
    from purescript_ifrit_spark.operators.text_analysis import inverted_index
    from purescript_ifrit_spark.operators.vectorize import jl_project

    assert inverted_index(empty_docs, "doc_id", "text").count() == 0
    assert contribution_cap(
        empty_events, "user_id", 3, [F.col("event_id")]
    ).count() == 0
    assert kanon_suppress(empty_docs, ["lang"], 2).count() == 0

    iv = spark.createDataFrame([], "k long, id long, s long, e long")
    assert interval_join(iv, iv, "k", "s", "e", "s", "e").count() == 0

    series = spark.createDataFrame([], "k string, bucket_us long, n long")
    assert fill_gaps_locf(series, ["k"], "bucket_us", ["n"], 10).count() == 0
    assert fill_gaps_interp(series, ["k"], "bucket_us", ["n"], 10).count() == 0

    vec = spark.createDataFrame([], "vec_id long, qv array<long>")
    assert jl_project(vec, "vec_id", "qv", 64, 16).count() == 0


def test_minhash_dialect_on_empty(spark, empty_docs):
    """The r8 MINHASH dialect fn on an empty frame: projection yields an
    empty frame with the right schema; the grouped dedup shape yields
    zero groups (no phantom NULL-signature group from zero rows)."""
    from purescript_ifrit_spark.api import run_query

    out = run_query(spark, empty_docs, "SELECT doc_id, MINHASH(text) AS sig")
    assert out.columns == ["doc_id", "sig"]
    assert out.count() == 0
    g = run_query(
        spark, empty_docs, "SELECT MIN(doc_id) AS keep GROUP BY MINHASH(text)"
    )
    assert g.count() == 0


def test_bm25_dialect_on_empty(spark, empty_docs):
    """The r9 BM25 dialect fn on an empty frame: projection and WHERE
    screen both yield empty frames with the right schema."""
    from purescript_ifrit_spark.api import run_query

    out = run_query(spark, empty_docs, "SELECT doc_id, BM25(text) AS score")
    assert out.columns == ["doc_id", "score"]
    assert out.count() == 0
    w = run_query(spark, empty_docs, "SELECT doc_id WHERE BM25(text) > 2.0")
    assert w.count() == 0


def test_profile_table_on_empty(spark):
    """r9 advice #3: profile_table on an empty snapshot must report
    n_rows=0 and n_nulls=0 (SUM over zero rows is NULL without the
    coalesce — the same empty-input NULL-poisoning class fixed in
    unigram_logprob_against/dsir_weights in r9), with NULL min/max and
    zero distincts; the approx path agrees."""
    from purescript_ifrit_spark.operators.pipeline import profile_table

    empty = spark.createDataFrame([], "k long, v string")
    for approx in (False, True):
        rows = {r.column: r for r in profile_table(empty, approx=approx).collect()}
        assert set(rows) == {"k", "v"}
        for c in ("k", "v"):
            r = rows[c]
            assert r.n_rows == 0
            assert r.n_nulls == 0, (c, approx, r)
            assert r.n_distinct == 0
            assert r.min_value is None and r.max_value is None


def test_r11_retrieval_helpers_on_empty(spark, empty_docs):
    """r11 surfaces on empty inputs: a fold of zero new docs changes
    nothing; an empty query batch (with or without the scan-level
    screen, whose isin([]) must not raise) scores zero rows; a recall
    estimate against an empty approximate answer reads 0 recall, never
    crashing."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ann_recall_estimate,
    )
    from purescript_ifrit_spark.operators.text_analysis import (
        bm25_topk_queries_indexed,
        build_bm25_index,
        fold_into_bm25_index,
    )

    docs = spark.createDataFrame(
        [(1, "cat sat mat"), (2, "dog ran far")], "doc_id long, text string"
    )
    p, l = build_bm25_index(docs, "doc_id", "text")
    fp, fl = fold_into_bm25_index(
        p, l, empty_docs.select("doc_id", "text"), "doc_id", "text"
    )
    assert fp.count() == p.count() and fl.count() == l.count()

    empty_qs = spark.createDataFrame([], "qid long, qtext string")
    for prune in (False, True):
        out = bm25_topk_queries_indexed(
            p, l, empty_qs, "qid", "qtext", "doc_id", k=5,
            prune_scan_terms=prune, scoring_partitions=0,
        )
        assert out.count() == 0 and out.columns == ["qid", "doc_id", "score"]

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    empty_approx = spark.createDataFrame(
        [], "query_id long, vec_id long, sim double"
    )
    rows = ann_recall_estimate(
        vecs, "vec_id", "embedding", np.eye(2), [0, 1], empty_approx,
        k=2, n_sample=2,
    ).collect()
    assert len(rows) == 2
    assert all(r.n_hit == 0 and r.recall_micro == 0 for r in rows)


def test_r12_similarity_helpers_on_empty(spark):
    """r12 surfaces on an empty corpus: the multi-table near-dup path
    returns an empty pair frame; full-corpus Lloyd refinement leaves
    every centroid unchanged (all cells empty)."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        embedding_neardup_pairs,
        ivf_centroids_refine,
        make_hyperplanes,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    tables = [make_hyperplanes(4, 4, seed=s) for s in range(2)]
    assert (
        embedding_neardup_pairs(
            empty, "vec_id", "embedding", 0.9, tables=tables
        ).count()
        == 0
    )
    assert (
        embedding_neardup_pairs(
            empty, "vec_id", "embedding", 0.9, tables=tables, max_bucket=5
        ).count()
        == 0
    )
    start = np.eye(3, 4)
    refined = ivf_centroids_refine(empty, "embedding", start)
    assert np.array_equal(refined, start)


def test_r13_residual_ivf_pq_adversarial_inputs(spark):
    """VERDICT r12 #7: the residual IVF-PQ probes under adversarial
    shapes — empty corpus, probed-cells-empty, all-rows-one-cell skew,
    and k > corpus size — for BOTH the single-query literal-LUT path
    and the batch mapInPandas path (they must stay value-equal)."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_pq_topk_residual,
        ivf_pq_topk_residual_batch,
        pq_encode,
        with_ivf_assignment,
        with_ivf_residual,
    )

    cents = np.array([[4.0, 0.0, 0.0, 0.0], [-4.0, 0.0, 0.0, 0.0]])
    # m=2 subspaces of 2 dims, 2 centers each: center 0 = zero, center 1
    # = 0.5 on the subspace's first dim
    books = np.zeros((2, 2, 2))
    books[0, 1, 0] = 0.5
    books[1, 1, 0] = 0.5

    def coded(rows):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        a = with_ivf_assignment(df, "embedding", cents)
        r = with_ivf_residual(a, "embedding", cents)
        return pq_encode(r, "residual", books).select(
            "vec_id", "ivf_cell", "pq_code"
        )

    q = [4.0, 0.0, 0.0, 0.0]
    qb = np.array([q])

    # (a) empty corpus: both paths return an empty frame with the
    # contract schema
    empty = coded([])
    single = ivf_pq_topk_residual(
        empty, "vec_id", "pq_code", q, books, cents, k=3, nprobe=2
    )
    assert single.count() == 0
    assert single.columns == ["vec_id", "dist"]
    batch = ivf_pq_topk_residual_batch(
        empty, "vec_id", "pq_code", qb, [7], books, cents, k=3, nprobe=2
    )
    assert batch.count() == 0
    assert batch.columns == ["query_id", "vec_id", "dist"]

    # (b) probed cell empty: every row lives in cell 1, the query's
    # nprobe=1 probe is cell 0 -> zero rows, no error
    far = coded([(i, [-4.0, 0.0, 0.0, float(i)]) for i in range(4)])
    assert (
        ivf_pq_topk_residual(
            far, "vec_id", "pq_code", q, books, cents, k=3, nprobe=1
        ).count()
        == 0
    )
    assert (
        ivf_pq_topk_residual_batch(
            far, "vec_id", "pq_code", qb, [7], books, cents, k=3, nprobe=1
        ).count()
        == 0
    )

    # (c) all-rows-one-cell skew + k > corpus size: nprobe=2 reaches the
    # skewed cell; k=50 over 4 rows returns all 4, (dist asc, id asc),
    # and the two paths agree exactly
    s = ivf_pq_topk_residual(
        far, "vec_id", "pq_code", q, books, cents, k=50, nprobe=2
    ).collect()
    b = ivf_pq_topk_residual_batch(
        far, "vec_id", "pq_code", qb, [7], books, cents, k=50, nprobe=2
    ).collect()
    assert len(s) == 4 and len(b) == 4
    assert [r.vec_id for r in s] == [0, 1, 2, 3]
    assert all(r.query_id == 7 for r in b)
    assert [(r.vec_id, r.dist) for r in b] == [(r.vec_id, r.dist) for r in s]
    # identical residual codes -> identical ADC distances for all rows
    assert len({round(r.dist, 9) for r in s}) == 1


def test_r13_l2_and_rerank_kernels_on_empty(spark):
    """r13 kernels on an empty corpus: the exact-L2 batch kernel and
    the batch PQ rerank return empty frames with the contract schema."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        l2_topk_batch,
        pq_topk_rerank_batch,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, pq_code array<int>"
    )
    q = np.zeros((1, 4))
    books = np.zeros((2, 2, 2))
    out = l2_topk_batch(empty, "vec_id", "embedding", q, [1], k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "dist"]
    out2 = pq_topk_rerank_batch(
        empty, "vec_id", "embedding", "pq_code", q, [1], books, k=3
    )
    assert out2.count() == 0
    assert out2.columns == ["query_id", "vec_id", "dist"]


def test_batch_ann_tiers_on_empty_query_batch(spark):
    """ROADMAP direction 3 on the six batch ANN tiers: a (0, dim) query
    batch returns an empty frame with the contract schema on every tier
    (it used to kill the job from np.concatenate([]) on the executors,
    raise on the driver, or return 0 rows, depending on the tier), and
    a non-2-D `queries` raises a named ValueError on the driver instead
    of a raw numpy AxisError/IndexError."""
    import numpy as np

    from tests.conftest import batch_ann_tiers, tied_ann_corpus

    corpus = tied_ann_corpus(spark, n=6, partitions=2)
    for name, tier in batch_ann_tiers().items():
        out = tier(corpus, np.zeros((0, 4)), [], 3)
        assert out.count() == 0, name
        assert out.columns[:2] == ["query_id", "vec_id"], name
        with pytest.raises(ValueError, match="2-D"):
            tier(corpus, [], [], 3)
