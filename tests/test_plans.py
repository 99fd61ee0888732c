"""Physical-plan regression tests — the 100 TB design bar, pinned.

These assert the *shape* of the plans Catalyst produces from our engine:
filters reach the parquet scan, projections prune columns, top-k compiles to
TakeOrdered, dimensions broadcast, the dialect path never leaves the JVM.
A correctness-preserving change that regresses one of these is a perf bug."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from purescript_ifrit_spark.api import run_query
from purescript_ifrit_spark.sources.tables import load_table


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


def test_filter_pushdown_reaches_scan(spark, orders):
    df = run_query(spark, orders, "SELECT o_orderkey WHERE o_totalprice > 1000")
    plan = physical(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,1000.0)" in plan


def test_integral_filter_pushdown_on_bigint_column(spark, orders):
    """r12: the lexer's float-typed NUMBER used to compile `o_orderkey >
    100` as `cast(o_orderkey as double) > 100.0`, which kept every
    integral-column predicate OUT of PushedFilters (only IsNotNull
    reached the scan) — a full scan instead of a row-group skip at 100
    TB. plans/spark_sql._lit renders integral literals as integers, so
    the comparison is native and the predicate lands in the parquet source."""
    df = run_query(spark, orders, "SELECT o_orderkey WHERE o_orderkey > 100")
    plan = physical(df)
    pushed = plan.split("PushedFilters")[1]
    assert "GreaterThan(o_orderkey,100)" in pushed, plan
    # and the field side is NOT cast to double anywhere in the plan
    assert "cast(o_orderkey" not in plan, plan
    # non-integral literals keep double comparison semantics (cast is
    # unavoidable; value parity with the reference's one number type)
    frac = run_query(spark, orders, "SELECT o_orderkey WHERE o_orderkey > 100.5")
    assert frac.count() == orders.filter(F.col("o_orderkey") > 100.5).count()


def test_column_pruning_reaches_scan(spark, orders):
    df = run_query(spark, orders, "SELECT o_orderkey WHERE o_totalprice > 1000")
    plan = physical(df)
    # 2 of 6 columns read
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan


def test_topk_is_take_ordered_not_global_sort(spark, orders):
    df = run_query(
        spark, orders,
        "SELECT o_orderkey ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",
    )
    assert "TakeOrderedAndProject" in physical(df)


def test_dialect_path_stays_jvm_side(spark, orders):
    # no Python evaluation nodes anywhere in a dialect query plan
    df = run_query(
        spark, orders,
        'SELECT o_orderkey, o_totalprice WHERE (o_orderstatus = "F" '
        "AND o_totalprice > 1000) ORDER BY o_totalprice DESC LIMIT 5",
    )
    plan = physical(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(" in plan  # WholeStageCodegen spans render as *(n) in toString


def test_grouped_agg_has_partial_and_final(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = run_query(spark, li, "SELECT AVG(l_quantity) AS a GROUP BY l_returnflag")
    plan = physical(df)
    # partial (map-side) then final aggregation around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_avg" in plan


def test_global_agg_no_shuffle_key_hotspot(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = run_query(spark, li, "SELECT SUM(l_quantity) AS s GROUP BY NULL")
    plan = physical(df)
    # global agg = partial + final over a single-partition exchange of the
    # already-reduced partials, not a hash exchange of raw rows by constant
    assert "partial_sum" in plan
    assert "hashpartitioning" not in plan.lower()


def test_array_aggregates_are_higher_order_functions(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    df = run_query(spark, emb, "SELECT vec_id, AVG(embedding) AS m")
    plan = physical(df)
    assert "aggregate(" in plan  # HOF in codegen'd projection
    assert "BatchEvalPython" not in plan


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    from purescript_ifrit_spark.operators.joins import orders_enriched

    j = orders_enriched(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )
    plan = physical(j)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_minhash_candidate_join_carries_no_shingles(spark, sf_dir):
    """The LSH band self-join must shuffle only (band, key, id) — never the
    shingle arrays (the bulk of bytes at corpus scale)."""
    from purescript_ifrit_spark.operators.dedup import minhash_candidate_pairs

    docs = load_table(spark, sf_dir, "documents").limit(50)
    pairs = minhash_candidate_pairs(docs, "doc_id", "text")
    plan = optimized(pairs)
    # the distinct over candidate ids must see only the two id columns
    import re

    m = re.search(r"Aggregate \[id_a#?\d*L?, id_b#?\d*L?\]", plan)
    assert m is not None, "candidate distinct should operate on ids only"


def test_cosine_topk_single_stage_scan(spark, sf_dir):
    from purescript_ifrit_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("embedding").head()[0]
    df = cosine_topk(emb, "vec_id", "embedding", q, 10)
    plan = physical(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[1] if "Exchange" in plan else True


def test_pack_sequences_no_single_partition_window(spark, sf_dir):
    """Sharded packing must never funnel the corpus through one task: no
    SinglePartition exchange anywhere in the plan, and every window over the
    chunk rows is partitioned (by the range shard)."""
    from purescript_ifrit_spark.operators.text_analysis import (
        chunk_documents,
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=8)
    out = pack_sequences(ch, "chunk_tokens", ("doc_id", "chunk_idx"), 512,
                         num_shards=8)
    plan = physical(out)
    assert "Exchange SinglePartition" not in plan
    assert "windowspecdefinition(_shard" in plan  # window partitioned by shard


def test_pack_sequences_sharded_matches_global(spark, sf_dir):
    """Shard offsets must reproduce the exact global-cumsum pack ids."""
    from purescript_ifrit_spark.operators.text_analysis import (
        chunk_documents,
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=8)
    key = lambda r: (r.doc_id, r.chunk_idx)  # noqa: E731
    glob = {
        key(r): r.pack_id
        for r in pack_sequences(ch, num_shards=1).collect()
    }
    for shards in (3, 8):
        sharded = {
            key(r): r.pack_id
            for r in pack_sequences(ch, num_shards=shards).collect()
        }
        assert sharded == glob


def test_pack_sequences_null_lead_matches_global(spark):
    """NULL leading order values must land in shard 0 (the global ascending
    window sorts NULLS FIRST) — least() would silently route them LAST."""
    import pytest
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )
    from purescript_ifrit_spark.operators.text_analysis import pack_sequences

    schema = StructType(
        [
            StructField("doc_id", IntegerType()),
            StructField("chunk_idx", IntegerType()),
            StructField("chunk_tokens", LongType()),
        ]
    )
    rows = [(None, 0, 100), (None, 1, 200)] + [
        (i, 0, 150) for i in range(20)
    ]
    df = spark.createDataFrame(rows, schema)
    key = lambda r: (r.doc_id, r.chunk_idx)  # noqa: E731
    glob = {key(r): r.pack_id for r in pack_sequences(df, num_shards=1).collect()}
    sharded = {key(r): r.pack_id for r in pack_sequences(df, num_shards=4).collect()}
    assert sharded == glob

    # non-numeric leads fail fast with the explicit TypeError, not a
    # cryptic interval-arithmetic planning error
    from datetime import datetime

    ts_rows = [(datetime(2024, 1, 1), 0, 100), (datetime(2024, 1, 2), 1, 50)]
    ts_df = spark.createDataFrame(ts_rows, ["doc_id", "chunk_idx", "chunk_tokens"])
    with pytest.raises(TypeError, match="must be numeric"):
        pack_sequences(ts_df, num_shards=4)


def test_limit_offset_order(spark, orders):
    # faithful mode: GlobalLimit/offset composition still a limited exchange,
    # not a full materialization
    df = run_query(spark, orders, "SELECT o_orderkey ORDER BY o_orderkey LIMIT 20 OFFSET 5")
    assert len(df.collect()) == 15


def test_q18ish_topk_plan(spark, sf_dir):
    """Fact-fact composite: the final top-k must be TakeOrderedAndProject
    (never a global Sort), and the HAVING filter must sit on the agg BEFORE
    the join back to orders (small side → AQE runtime broadcast)."""
    from purescript_ifrit_spark import suite

    fn, _ = suite.REGISTRY["x_tpch_q18ish"]
    out = fn(spark, sf_dir)
    plan = physical(out)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [o_totalprice" not in plan  # no global sort for the top-k


def test_where_ext_fn_is_scan_stage_filter(spark, sf_dir):
    """WHERE QUALITY(text) > 0.5 evaluates in the scan stage: a codegen'd
    Filter over the FileScan, no exchange, no Python nodes."""
    docs = load_table(spark, sf_dir, "documents")
    df = run_query(spark, docs, "SELECT doc_id WHERE QUALITY(text) > 0.5")
    plan = physical(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Filter" in plan


def test_robust_outliers_single_exchange(spark, sf_dir):
    """Median and MAD window passes share the user_id partitioning: one
    Exchange total (the second Window rides the first's distribution)."""
    from purescript_ifrit_spark.operators.windows import robust_outliers
    from purescript_ifrit_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = physical(robust_outliers(ev, "user_id", "value"))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_token_rarity_no_sortmerge(spark, sf_dir):
    """The vocabulary join-back must never degrade to SortMergeJoin at
    test scale (AQE broadcasts the vocab side), and the explode must be
    pre-aggregated before any wide stage (no raw-occurrence shuffle)."""
    from purescript_ifrit_spark.operators.text_analysis import (
        token_rarity_stats,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = token_rarity_stats(docs, "doc_id", "text")
    assert out.count() > 0  # materialize so AQE finalizes join strategy
    plan = physical(out)
    assert "SortMergeJoin" not in plan, plan


def test_dau_exact_two_stage_distinct(spark, sf_dir):
    """count(DISTINCT user) must plan as the two-stage aggregate: a
    partial dedup of (bucket, type, user) BEFORE the exchange, so the
    shuffle carries each triple once, not each event. Plan shape: two
    hashpartitioning exchanges (triple dedup, then final count) and a
    partial_count over the deduped keys."""
    from purescript_ifrit_spark.operators.windows import (
        distinct_users_windowed,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = physical(distinct_users_windowed(ev))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan or "partial aggregation" in plan.lower(), plan


def test_dau_approx_single_exchange_sketch(spark, sf_dir):
    """HLL mode shuffles merged sketches, not user ids: one exchange on
    (bucket, type) and a partial approx_count_distinct below it."""
    from purescript_ifrit_spark.operators.windows import (
        distinct_users_windowed,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = physical(distinct_users_windowed(ev, approx=True))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "approx_count_distinct" in plan, plan


def test_shuffle_shards_single_exchange(spark, sf_dir):
    """One shuffle on the shard key; the rank window rides it."""
    from purescript_ifrit_spark.operators.sampling import shuffle_shards
    from purescript_ifrit_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    plan = physical(shuffle_shards(docs, "doc_id", 8))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_term_spectrum_partials_collapse_before_shuffle(spark, sf_dir):
    """The exploded (term, doc) stream is pre-aggregated map-side in each
    of the three stages (per-doc counts, vocab totals, count-of-counts) —
    partial_count/sum below every exchange, and no join anywhere."""
    from purescript_ifrit_spark.operators.text_analysis import (
        term_frequency_spectrum,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = physical(term_frequency_spectrum(docs, "doc_id", "text"))
    assert "Join" not in plan, plan
    assert plan.count("partial_count") + plan.count("partial_sum") >= 3, plan


def test_ohlc_bars_single_aggregation_no_window(spark, sf_dir):
    """OHLC is ONE hash aggregation (min_by/max_by carry the open/close
    picks in partials) — no window operator, one exchange."""
    from purescript_ifrit_spark.operators.windows import ohlc_bars
    from purescript_ifrit_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = physical(ohlc_bars(ev))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan, plan


def test_moving_avg_single_exchange(spark, sf_dir):
    from purescript_ifrit_spark.operators.windows import moving_avg
    from purescript_ifrit_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = physical(moving_avg(ev))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_quality_topfrac_single_exchange(spark, sf_dir):
    """Rank and group-size windows share the lang partitioning: one
    exchange total (the robust_outliers rule)."""
    from purescript_ifrit_spark.operators.text_analysis import (
        quality_top_fraction,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = physical(quality_top_fraction(docs, "doc_id", "text", "lang"))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_knn_join_no_cartesian_and_no_vectors_in_candidate_join(spark, sf_dir):
    """The KNN self-join must never plan a cartesian product, and the
    candidate equi-join must shuffle (rotation, bucket, id) only — the
    vector column attaches after candidates are deduped."""
    from purescript_ifrit_spark.operators.similarity import knn_join_lsh
    from purescript_ifrit_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_join_lsh(emb, "vec_id", "embedding", k=3)
    assert out.count() > 0  # finalize AQE join strategies
    plan = physical(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    # every exchange that carries `_bkt` must not carry the embedding col
    for block in plan.split("Exchange"):
        if "_bkt" in block.split("\n")[0]:
            assert "embedding" not in block.split("\n")[0], block.split("\n")[0]


def test_dedup_subdocument_two_exchanges(spark, sf_dir):
    """Chunking/fingerprinting are scan-stage (Generate, no UDF); exactly
    two shuffles — chunk-fingerprint winner election and doc-id
    reassembly (the per-doc total window rides the second)."""
    from purescript_ifrit_spark.operators.dedup import dedup_subdocument
    from purescript_ifrit_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = physical(dedup_subdocument(docs, "doc_id", "text", 32))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_unigram_logprob_no_reexploded_total(spark, sf_dir):
    """Three shuffles (vocab partial+final, 1-row total, per-doc mean with
    map-side partials) + two broadcasts; the corpus total comes from a
    scan-stage token_count sum, so only TWO Generate(explode) nodes exist
    (probe + vocab), never a third for the total."""
    from purescript_ifrit_spark.operators.text_analysis import unigram_logprob
    from purescript_ifrit_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = physical(unigram_logprob(docs, "doc_id", "text"))
    assert plan.count("Generate explode") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("BroadcastExchange") == 2, plan


def test_cube_counts_single_expand_pass(spark, sf_dir):
    """The CUBE lattice is one Expand + one partial/final aggregation —
    the corpus is scanned once, not once per grouping set."""
    from purescript_ifrit_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    plan = physical(
        docs.cube("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    )
    assert plan.count("Expand") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_blocklist_dedup_corpus_never_shuffles(spark, sf_dir):
    """The corpus side is scan-stage in both branches (Bloom probe via
    ArrowEvalPython + filter); the only hashpartitioning exchange is the
    blocklist-side distinct, and the confirm join is broadcast."""
    from purescript_ifrit_spark.functions import text as X
    from purescript_ifrit_spark.operators.dedup import dedup_against_blocklist
    from purescript_ifrit_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    block = docs.filter(F.col("doc_id") % 7 == 0).select(
        X.fingerprint(F.col("text")).alias("fingerprint")
    )
    plan = physical(dedup_against_blocklist(docs, block))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the sole hash exchange belongs to the blocklist distinct
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_heavy_hitters_mg_shuffles_only_summaries(spark, sf_dir):
    """The merge exchange carries per-partition summaries (≤ capacity rows
    each), never the raw item stream — the Arrow stage runs BELOW the only
    hashpartitioning exchange."""
    from purescript_ifrit_spark.functions import text as X
    from purescript_ifrit_spark.operators.sketches import heavy_hitters_mg
    from purescript_ifrit_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(X.tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    plan = physical(heavy_hitters_mg(toks, "tok", 10, capacity=64))
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the exchange sits ABOVE MapInPandas in the tree (summary merge)
    assert plan.index("Exchange hashpartitioning") < plan.index(
        "MapInPandas"
    ), plan


def test_temperature_mix_single_window_exchange(spark, sf_dir):
    """Budgets broadcast back onto the corpus; the fill is ONE hash
    exchange on the group with a single window pass (budget_sample's
    shape), no sort-merge join anywhere."""
    from purescript_ifrit_spark.functions import text as X
    from purescript_ifrit_spark.operators.sampling import temperature_mix
    from purescript_ifrit_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tok", X.token_count(F.col("text")).cast("long")
    )
    plan = physical(
        temperature_mix(docs, "doc_id", "n_tok", "source", 10_000)
    )
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Window") == 1, plan


def test_bm25_batch_broadcasts_queries_and_pushes_topk_mapside(spark, sf_dir):
    """Batch BM25 plan shape (r9; tightened r10 per the round-9 advice):
    the query-term relations ride broadcasts (no SortMergeJoin for the
    metadata-sized sides), the query-vocabulary screen is a LEFT-SEMI
    join that Catalyst pushes BELOW the (term, _doc) partial aggregate
    onto the token explode — so the pre-aggregation exchange is
    match-sized, never corpus-sized — the per-query top-k limit is
    pushed map-side (WindowGroupLimit Partial BEFORE the query-keyed
    exchange), and no cartesian appears beyond the single-row
    corpus-stats broadcast."""
    from purescript_ifrit_spark.operators.text_analysis import (
        bm25_topk_queries,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [(1, "spark join"), (2, "merge sort")], "qid long, qtext string"
    )
    plan = physical(
        bm25_topk_queries(docs, "doc_id", "text", qs, "qid", "qtext", k=5)
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
    # the r9 advice finding: an INNER vocab join sat ABOVE the (term,
    # _doc) aggregate, so the pre-aggregation exchange carried every
    # distinct (term, doc) pair of the corpus. The semi-join must print
    # BELOW (after, in top-down toString order) that exchange.
    assert "LeftSemi" in final, final
    i_exchange = final.index("Exchange hashpartitioning(term")
    assert i_exchange < final.index("LeftSemi"), final
    assert "WindowGroupLimit" in final, final
    assert final.index("WindowGroupLimit") > final.index("Window"), final
    # partial group-limit precedes the final one (map-side pushdown);
    # toString prints top-down, so Final appears before Partial
    assert "Partial" in final.split("WindowGroupLimit", 2)[-1].split("\n")[0] \
        or final.count("WindowGroupLimit") == 2, final


def test_bm25_indexed_prune_scan_terms_pushes_in_filter(
    spark, sf_dir, tmp_path
):
    """VERDICT r10 #2 mechanism: `prune_scan_terms=True` turns the
    query-vocab screen into a literal `term IN (...)` that Catalyst
    pushes INTO the parquet source (PushedFilters on the postings scan)
    — the in-plan semi-join can never reach the scan, so without this
    the postings are always read whole. Results must be identical with
    the flag on or off."""
    from purescript_ifrit_spark.operators.text_analysis import (
        bm25_topk_queries_indexed,
        build_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    postings, doclens = build_bm25_index(docs, "doc_id", "text")
    # the term-sorted at-rest layout the docstring prescribes (footer
    # min/max tight per file)
    (
        postings.repartitionByRange(4, "term")
        .sortWithinPartitions("term")
        .write.parquet(str(tmp_path / "p"))
    )
    doclens.write.parquet(str(tmp_path / "l"))
    p2 = spark.read.parquet(str(tmp_path / "p"))
    l2 = spark.read.parquet(str(tmp_path / "l"))
    qs = spark.createDataFrame(
        [(1, "spark join"), (2, "merge sort")], "qid long, qtext string"
    )
    pruned = bm25_topk_queries_indexed(
        p2, l2, qs, "qid", "qtext", "doc_id", k=5,
        prune_scan_terms=True, scoring_partitions=0,
    )
    plan = physical(pruned)
    # the In filter reaches the postings source scan
    assert "PushedFilters: [In(term" in plan, plan
    base = bm25_topk_queries_indexed(
        p2, l2, qs, "qid", "qtext", "doc_id", k=5, scoring_partitions=0,
    )
    assert "PushedFilters: [In(term" not in physical(base)
    got = sorted(
        (r.qid, r.doc_id, r.score) for r in pruned.collect()
    )
    want = sorted((r.qid, r.doc_id, r.score) for r in base.collect())
    assert got == want and len(got) > 0


def test_rrf_fuse_takeordered_not_global_sort(spark, sf_dir):
    """RRF plan shape (r9): the fused top-k is a TakeOrdered, never a
    global Sort, and the whole fuse is JVM-side (no Python eval)."""
    from pyspark.sql import functions as F

    from purescript_ifrit_spark.functions import text as X
    from purescript_ifrit_spark.operators.text_analysis import rrf_fuse
    from purescript_ifrit_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ra = (
        docs.select(
            "doc_id", X.token_count(F.col("text")).cast("long").alias("s")
        )
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(50)
    )
    rb = (
        docs.select("doc_id", ((F.col("doc_id") * 31 + 7) % 1000).alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(50)
    )
    plan = physical(rrf_fuse([(ra, "s"), (rb, "s")], "doc_id", k=20))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan, plan


def test_bm25_topk_verbatim_terms_and_takeordered(spark, sf_dir):
    """bm25_topk's single-query contract: terms match verbatim (no
    normalization, so "Spark" finds nothing where "spark" does), a
    repeated term scores as if given once, and the top-k is a global
    TakeOrdered over the scores, never a window."""
    from purescript_ifrit_spark.operators.text_analysis import bm25_topk

    docs = load_table(spark, sf_dir, "documents")

    def top(terms):
        return [
            (r.doc_id, r.score)
            for r in bm25_topk(docs, "doc_id", "text", terms, k=10).collect()
        ]

    once = top(["spark"])
    assert len(once) == 10
    assert top(["spark", "spark"]) == once
    assert top(["Spark"]) == []
    plan = physical(bm25_topk(docs, "doc_id", "text", ["spark", "join"]))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_ann_batch_partial_topk_plan(spark, sf_dir):
    """Batch brute ANN plan shape (r10 rewrite): ONE Arrow mapInPandas
    (matmul + local per-query top-k inside the worker — the full
    rows x queries sim matrix never crosses Arrow), ONE query-keyed
    exchange of the partials, and the global per-query top-k as a
    WindowGroupLimit window. No posexplode of the sim matrix."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        cosine_topk_batch,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = physical(
        cosine_topk_batch(
            emb, "vec_id", "embedding", np.ones((3, 64)), [0, 1, 2], k=5
        )
    )
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "WindowGroupLimit" in final, final
    assert "Generate" not in final, final  # no explode anywhere


def test_ivf_batch_partial_topk_plan(spark, sf_dir):
    """Batch IVF plan shape (r10): ONE Arrow mapInPandas (in-Arrow numpy
    cell assignment — never the nlist·dim interpreted JVM argmin, the
    100x-measured bottleneck), one query-keyed exchange of the partials,
    WindowGroupLimit window, no explode. With a precomputed cell_col,
    the probed-cells filter is a JVM scan filter BELOW the Arrow stage
    (partition pruning on a cell-partitioned layout)."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk_batch,
        with_ivf_assignment,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, "embedding", nlist=8, seed=42)
    plan = physical(
        ivf_topk_batch(
            emb, "vec_id", "embedding", np.ones((2, 64)), [0, 1], cents,
            k=5, nprobe=2,
        )
    )
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "WindowGroupLimit" in final, final
    assert "Generate" not in final, final
    # the interpreted JVM argmin must NOT be in the default path
    assert "array_position" not in final, final
    # at-rest fast path: a stored cell column turns the probed-cells
    # screen into a plain JVM filter below the Arrow stage
    stored = with_ivf_assignment(emb, "embedding", cents)
    plan2 = physical(
        ivf_topk_batch(
            stored, "vec_id", "embedding", np.ones((2, 64)), [0, 1], cents,
            k=5, nprobe=2, cell_col="ivf_cell",
        )
    )
    final2 = plan2.split("== Initial Plan ==")[0]
    assert final2.count("MapInPandas") == 1, final2
    # a Filter node exists BELOW the Arrow stage (the probed-cells
    # screen; on a cell-partitioned layout it becomes partition pruning)
    assert final2.index("Filter", final2.index("MapInPandas")) > 0, final2


def test_lsh_batch_partial_topk_plan(spark, sf_dir, tmp_path):
    """Batch LSH plan shape (r11, the ivf_topk_batch contract): ONE
    Arrow mapInPandas (in-Arrow sign-pack assignment — never the
    n_planes·dim interpreted JVM fold), one query-keyed exchange of the
    partials, WindowGroupLimit window, no explode; with a stored
    bucket_col the probed-buckets screen is a JVM Filter below the
    Arrow stage, and on the write_lsh_partitioned hive layout it is
    PartitionFilters — unprobed buckets' files never enter the scan."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        lsh_topk_batch,
        make_hyperplanes,
        with_lsh_bucket,
        write_lsh_partitioned,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    planes = make_hyperplanes(dim=64, n_planes=6, seed=42)
    plan = physical(
        lsh_topk_batch(
            emb, "vec_id", "embedding", np.ones((2, 64)), [0, 1], planes,
            k=5, probe_hamming=1,
        )
    )
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "WindowGroupLimit" in final, final
    assert "Generate" not in final, final
    stored = with_lsh_bucket(emb, "embedding", planes)
    plan2 = physical(
        lsh_topk_batch(
            stored, "vec_id", "embedding", np.ones((2, 64)), [0, 1],
            planes, k=5, probe_hamming=1, bucket_col="bucket",
        )
    )
    final2 = plan2.split("== Initial Plan ==")[0]
    assert final2.count("MapInPandas") == 1, final2
    assert final2.index("Filter", final2.index("MapInPandas")) > 0, final2
    # hive layout: probed-buckets IN literal lands in PartitionFilters,
    # and the pruned result equals the in-Arrow-assignment path
    write_lsh_partitioned(emb, "embedding", planes, str(tmp_path / "lsh"))
    stored_hive = spark.read.parquet(str(tmp_path / "lsh"))
    queries = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in
         emb.filter(F.col("vec_id").isin([0, 7])).orderBy("vec_id")
         .collect()]
    )
    pruned = lsh_topk_batch(
        stored_hive, "vec_id", "embedding", queries, [0, 7], planes,
        k=5, probe_hamming=1, bucket_col="bucket",
    )
    plan3 = physical(pruned)
    i = plan3.index("PartitionFilters: [")
    seg = plan3[i:i + 200]
    # short lists print "IN (", longer ones "INSET" — both are pruning
    assert "bucket" in seg and (" IN (" in seg or " INSET " in seg), seg
    want = sorted(
        (r.query_id, r.vec_id, round(r.sim, 5))
        for r in lsh_topk_batch(
            emb, "vec_id", "embedding", queries, [0, 7], planes,
            k=5, probe_hamming=1,
        ).collect()
    )
    got = sorted(
        (r.query_id, r.vec_id, round(r.sim, 5)) for r in pruned.collect()
    )
    assert got == want and len(got) > 0


def test_ivf_cell_partitioned_layout_prunes_partitions(
    spark, sf_dir, tmp_path
):
    """The at-rest IVF layout (write_ivf_partitioned, r11): with the
    corpus hive-partitioned by cell, the probed-cells screen becomes
    PartitionFilters on the scan — unprobed cells' files never enter
    the scan at all (the 100 TB contract: a query batch reads its
    probed cells, not the corpus). Results must equal the
    compute-assignment-per-query path on the same centroids."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk_batch,
        write_ivf_partitioned,
    )
    from purescript_ifrit_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, "embedding", nlist=8, seed=42)
    write_ivf_partitioned(emb, "embedding", cents, str(tmp_path / "ivf"))
    stored = spark.read.parquet(str(tmp_path / "ivf"))
    queries = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in
         emb.filter(F.col("vec_id").isin([0, 7])).orderBy("vec_id")
         .collect()]
    )
    pruned = ivf_topk_batch(
        stored, "vec_id", "embedding", queries, [0, 7], cents,
        k=5, nprobe=2, cell_col="ivf_cell",
    )
    plan = physical(pruned)
    # the probed-cells IN literal lands in PartitionFilters (pruning),
    # not in a post-scan Filter over data rows
    i = plan.index("PartitionFilters: [")
    seg = plan[i:i + 200]
    assert "ivf_cell" in seg and " IN (" in seg, seg
    assert seg.index("ivf_cell") < seg.index(" IN ("), seg
    want = sorted(
        (r.query_id, r.vec_id, round(r.sim, 6))
        for r in ivf_topk_batch(
            emb, "vec_id", "embedding", queries, [0, 7], cents,
            k=5, nprobe=2,
        ).collect()
    )
    got = sorted(
        (r.query_id, r.vec_id, round(r.sim, 6)) for r in pruned.collect()
    )
    assert got == want and len(got) > 0


def test_rrf_fuse_queries_single_qid_exchange(spark):
    """Grouped RRF plan shape (r10): ONE qid-keyed exchange total — the
    up-front repartition co-locates each query's candidate lists and
    hashpartitioning(qid) satisfies the (qid, sys) ranking window, the
    (qid, id) fusion aggregate, and the per-query top-k window, so
    Catalyst inserts no further exchange; the top-k limit is pushed
    map-side (WindowGroupLimit); JVM-side throughout."""
    from purescript_ifrit_spark.operators.text_analysis import (
        rrf_fuse_queries,
    )

    ra = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 90), (2, 20, 50)],
        "qid long, doc_id long, s long",
    )
    rb = spark.createDataFrame(
        [(1, 20, 5), (2, 40, 9)], "qid long, doc_id long, s long"
    )
    plan = physical(
        rrf_fuse_queries([(ra, "s"), (rb, "s")], "qid", "doc_id", k=5)
    )
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "WindowGroupLimit" in final, final
    assert "Python" not in final, final
