"""Text analysis operators: language ID, quality scoring, token counting,
fingerprinting (SURVEY.md §2.7). All pure Column expressions — scan-speed.

Every operator here is deliberately expressible in ANSI-ish SQL too, so the
driver's DuckDB oracle can recompute it exactly (see suite.py): same regexes
(RE2/Java compatible subset), same tie-breaking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from purescript_ifrit_spark.functions import text as X

# canonical definitions live in functions/text.py (shared with the dialect
# extension functions); re-exported here for the operator-layer API
from purescript_ifrit_spark.functions.text import (  # noqa: F401
    LANG_MARKERS,
    lang_id,
)
from purescript_ifrit_spark.functions.text_sql import (  # noqa: F401
    GOPHER_DEFAULTS,
    GOPHER_STOPWORDS,
    gopher_pass_sql,
)


def _quality_staged(
    df: DataFrame, text_col: str, keep_norm: bool, with_features: bool,
) -> DataFrame:
    """Three staged projections so each text scan runs ONCE:

      1. `_norm`  — the normalization regex (the only full-text regex pass
                    shared by everything downstream)
      2. integers — n_tokens / nonspace / punct / stopword hits from `_norm`
                    (one translate pass + two regexp_counts)
      3. outputs  — pure arithmetic over the integer columns

    The stage boundaries are load-bearing: a single flat projection (or
    withColumn chaining, which CollapseProject merges) re-inlines the
    non-cheap regex/translate subtrees at EVERY reference, and codegen's
    subexpression elimination cannot rescue expressions hidden inside
    `when` branches — measured 2.3s → 0.6s for the full feature set at
    sf0.1/local[32]. CollapseProject keeps the stages separate precisely
    because collapsing would duplicate non-cheap expressions (SPARK-36718
    semantics).

    Exactly the same values as the X.* single-expression forms: stage 2/3
    use the same token/char-count identities (see functions/text.py), and
    mean_token_len ≡ nonspace/n, punct_ratio ≡ punct/nonspace,
    stopword_ratio ≡ hits/n."""
    c = F.col(text_col)
    s = F.col("_norm")
    n = F.col("n_tokens")
    nonspace = F.col("_nonspace")
    staged = df.withColumn("_norm", X.normalize_text(c)).withColumns(
        {
            "n_tokens": F.when(F.length(s) == 0, F.lit(0)).otherwise(
                F.length(s) - F.length(F.translate(s, " ", "")) + 1
            ),
            "_punct": F.regexp_count(s, F.lit(r"[^a-z0-9 ]")),
            "_hits": F.regexp_count(
                s, F.lit(X._stop_rx(X.DEFAULT_STOPWORDS))
            ),
        }
    ).withColumn(
        "_nonspace", F.length(s) - F.greatest(n - F.lit(1), F.lit(0))
    )
    out = staged
    if with_features:
        out = out.withColumns(
            {
                "mean_token_len": F.round(
                    F.when(n == 0, F.lit(0.0)).otherwise(
                        nonspace.cast("double") / n.cast("double")
                    ),
                    6,
                ),
                "punct_ratio": F.round(
                    F.when(nonspace == 0, F.lit(0.0)).otherwise(
                        F.col("_punct").cast("double")
                        / nonspace.cast("double")
                    ),
                    6,
                ),
                "stopword_ratio": F.round(
                    F.when(n == 0, F.lit(0.0)).otherwise(
                        F.col("_hits").cast("double") / n.cast("double")
                    ),
                    6,
                ),
            }
        )
    out = out.withColumn(
        "quality",
        X.quality_from_parts(n, nonspace, F.col("_punct"), F.col("_hits")),
    )
    drop = ("_nonspace", "_punct", "_hits") if keep_norm else (
        "_norm", "_nonspace", "_punct", "_hits"
    )
    return out.drop(*drop)


def quality_score(
    df: DataFrame, text_col: str, keep_norm: bool = False,
    with_features: bool = True,
) -> DataFrame:
    """Single scalar quality score in [0,1]: penalizes too-short docs,
    punctuation soup and stopword-free keyword spam. Deterministic, linear,
    documented — NOT a learned model. The score is the canonical
    cross-engine-exact formula from functions/text.quality (integer
    micro-unit arithmetic — see its docstring); the feature columns remain
    6dp-rounded floats for human consumption.

    `keep_norm=True` keeps the staged `_norm` column (normalize_text of
    the text) in the output, so a downstream stage that needs normalized
    text — fingerprinting, shingling — consumes the SAME projection
    instead of re-running the regex: Catalyst does not CSE across
    operators, and with the scored stage persisted (pipeline.curate) the
    column is paid for once. Costs ~text-sized extra bytes in the cached
    relation.

    `with_features=False` omits the three 6dp-rounded ratio columns
    (mean_token_len / punct_ratio / stopword_ratio) — the scalar quality
    needs only the staged integers, and a pipeline that persists the
    scored stage (curate) should not cache three doubles per row nobody
    downstream reads."""
    return _quality_staged(
        df, text_col, keep_norm=keep_norm, with_features=with_features
    )


def fingerprint_docs(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn("fingerprint", X.fingerprint(F.col(text_col)))


def term_stats(
    df: DataFrame, id_col: str, text_col: str, min_df: int = 1
) -> DataFrame:
    """Corpus-wide term statistics over normalized whitespace tokens:
    (term, tf = total occurrences, df = documents containing it) — the
    vocabulary/IDF table of a text pipeline.

    Scale: explode is map-side; the per-(term, doc) pre-aggregation
    collapses repeated in-document terms BEFORE the wide shuffle (shuffle
    rows ≈ distinct (term, doc) pairs with map-side partial combine), and
    the second aggregation runs on term-level data that is vocabulary-sized.
    This two-stage shape replaces countDistinct(doc) on the exploded rows,
    which would carry every occurrence through one shuffle."""
    per_doc = _per_doc_term_counts(df, id_col, text_col)
    stats = per_doc.groupBy("term").agg(
        F.sum("tf_doc").alias("tf"),
        F.count(F.lit(1)).alias("df"),
    )
    if min_df > 1:
        stats = stats.filter(F.col("df") >= min_df)
    return stats


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_postings: int = 10,
    min_df: int = 1,
) -> DataFrame:
    """Inverted index over normalized whitespace tokens: (term, df,
    postings) where postings is the comma-joined ascending head (first
    `max_postings`) of the doc ids containing the term — the IR-side
    companion of bm25: retrieval needs term → docs, not doc → terms.

    Scale: the exact two-stage shape of term_stats (map-side explode,
    per-(term, doc) collapse BEFORE the wide shuffle — one definition,
    _per_doc_term_counts, so index and stats can never diverge on
    tokenization). The posting list is truncated BEFORE collection: a
    stopword's full posting list is corpus-sized, so rows are ranked in
    the term-keyed window and only rank ≤ max_postings reach
    collect_list — per-term aggregate state is bounded by max_postings,
    never by df (collect-then-slice would buffer the full list). The
    window and the groupBy share the term partitioning, so the whole
    index costs ONE wide exchange. df carries the true count, the head
    is a sample; a serving index shards postings by doc range instead
    of collecting them into one row."""
    from pyspark.sql import Window

    per_doc = _per_doc_term_counts(df, id_col, text_col)
    w = Window.partitionBy("term").orderBy("_doc")
    ranked = per_doc.withColumn("_rk", F.row_number().over(w))
    postings = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rk") <= max_postings, F.col("_doc"))
                )
            ),
            lambda d: d.cast("string"),
        ),
        ",",
    )
    out = ranked.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        postings.alias("postings"),
    )
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return out


def _per_doc_term_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, _doc, tf_doc) over normalized whitespace tokens — the shared
    tokenize → explode → pre-aggregate stage of term_stats and tfidf_topk
    (one definition so the two operators — and their paired oracles — can
    never diverge on tokenization or the empty-term rule)."""
    toks = F.split(X.normalize_text(F.col(text_col)), " ")
    exploded = df.select(
        F.col(id_col).alias("_doc"), F.explode(toks).alias("term")
    ).filter(F.col("term") != "")
    return exploded.groupBy("term", "_doc").agg(
        F.count(F.lit(1)).alias("tf_doc")
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by a rational tf-idf
    (score = tf_doc · N / df — the log-free variant, monotone in the
    classic one for fixed N, and exactly reproducible across engines:
    integer multiply, one float division, no transcendental whose last bit
    differs between libm implementations).

    Scale: one exploded pre-aggregation (same shape as `term_stats`), the
    document-frequency table derived from it, joined back ON TERM (a plain
    shuffled equi-join — the df table is vocabulary-sized, and AQE
    broadcasts it when it fits; forcing broadcast would be wrong for
    web-scale vocabularies), then a per-document window top-k
    (WindowGroupLimit pushes the limit map-side).

    `n_docs` overrides the corpus size; when omitted it is computed IN the
    plan — a 1-row count aggregate broadcast-cross-joined onto the scored
    rows — so the operator stays fully lazy (no blocking driver action;
    the count scan reads zero columns and rides the same job)."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    from pyspark.sql import Window

    per_doc = _per_doc_term_counts(df, id_col, text_col)
    vocab = per_doc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = per_doc.join(vocab, "term")
    if n_docs is None:
        n_col = F.col("_n_docs")
        scored = scored.crossJoin(
            F.broadcast(df.select(F.count(F.lit(1)).alias("_n_docs")))
        )
    else:
        n_col = F.lit(n_docs)
    scored = scored.withColumn(
        "score",
        (F.col("tf_doc") * n_col).cast("double") / F.col("df").cast("double"),
    ).drop("_n_docs")
    w = Window.partitionBy("_doc").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_doc").alias(id_col), "term", "tf_doc", "df", "score", "rank"
        )
    )


def pack_bin(cum, tokens_col: str, pack_size: int):
    """The greedy first-fit-in-order bin assignment shared by
    pack_sequences and pipeline.training_shard_pipeline: given the
    inclusive cumulative token sum `cum` over the packing order, the bin
    is floor((cum - row_tokens) / pack_size) — i.e. the bin the row's
    FIRST token lands in. Kept as one kernel so the per-shard pipeline
    packing can never drift from the individually-verified operator.

    Exact integer division (functions/text._idiv, r8 review): the start
    offset and pack_size are exact longs, and floor(double_div) can be
    off by one once the cumulative sum passes ~2^52 — precisely the
    off-by-one _idiv's docstring names; at corpus scale cumulative
    token counts DO pass 2^52."""
    from purescript_ifrit_spark.functions.text import _idiv

    return _idiv(cum - F.col(tokens_col), F.lit(pack_size)).cast("long")


def pack_sequences(
    df: DataFrame,
    tokens_col: str = "chunk_tokens",
    order_cols: tuple = ("doc_id", "chunk_idx"),
    pack_size: int = 512,
    num_shards: int | None = None,
) -> DataFrame:
    """Assign each chunk to a training-sequence bin of ~`pack_size` tokens.

    Deterministic streaming approximation of greedy packing: chunks are
    ordered by `order_cols`, and bin = floor((cumulative_tokens - tokens) /
    pack_size) over that order. A bin may overflow by at most one chunk
    (the standard first-fit-in-order trade); no bin is underfilled except
    the last.

    Scale design — the cumulative sum is SHARDED, never a single global
    window: rows are range-sharded on the numeric leading order column
    (contiguous, deterministic buckets from one min/max scan), the window
    runs per shard in parallel, and each shard adds the total token count of
    all earlier shards as an offset. Because shards are contiguous in the
    global order, offset + per-shard cumsum == the exact global cumsum, so
    the result is bit-identical to the single-window semantics while the
    plan contains no single-partition exchange (the cross-shard offsets come
    from a `num_shards`-row self-join, not a window). `num_shards` defaults
    to the session's default parallelism; pass `num_shards=1` to force the
    legacy global window (tiny data / non-numeric leading column).
    """
    from pyspark.sql import Window

    lead = order_cols[0]
    if num_shards is None:
        num_shards = df.sparkSession.sparkContext.defaultParallelism
    order = [F.col(c).asc() for c in order_cols]

    if num_shards > 1:
        bounds = df.agg(F.min(lead).alias("lo"), F.max(lead).alias("hi")).first()
        lo, hi = bounds["lo"], bounds["hi"]
        if lo is None:
            num_shards = 1  # empty input (or all-NULL lead): nothing to shard
        elif isinstance(hi, float) and (hi != hi or lo != lo):
            # NaN lead values (r8 review): max() returns NaN, the span
            # fallback would silently send every row through an
            # unnormalized fraction while the global window sorts NaN
            # LAST — contiguity (and therefore the bit-identical global
            # cumsum) breaks. Loud, like the non-numeric guard below.
            raise ValueError(
                f"pack_sequences leading order column {lead!r} contains "
                "NaN — shard contiguity (and the global-window "
                "equivalence) is undefined; clean the column or pass "
                "num_shards=1"
            )
        elif not isinstance(lo, (int, float)) or isinstance(lo, bool):
            # explicit guard for str/timestamp/date/decimal leads — without
            # it a timestamp column dies later in interval arithmetic with
            # a cryptic planning error instead of this message
            raise TypeError(
                f"pack_sequences shards on the leading order column ({lead!r}), "
                f"which must be numeric (got {type(lo).__name__}); pass "
                "num_shards=1 to force the unsharded global window instead"
            )

    if num_shards <= 1:
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = F.sum(F.col(tokens_col)).over(w)
        return df.withColumn("pack_id", pack_bin(cum, tokens_col, pack_size))

    # contiguous range shards (bounds fetched above — one bounded scan;
    # parquet min/max statistics serve it when `lead` is a stored column).
    # NULL leads map to shard 0: the global ascending window sorts NULLS
    # FIRST, and shard 0's window does too, so offset+cumsum equivalence
    # holds (least() would silently skip the NULL and send them LAST).
    span = hi - lo
    frac = (F.col(lead) - F.lit(lo)) / F.lit(span if span > 0 else 1)
    shard = F.when(F.col(lead).isNull(), F.lit(0)).otherwise(
        F.least(F.lit(num_shards - 1), F.floor(frac * num_shards))
    ).cast("int")
    d = df.withColumn("_shard", shard)

    # token total per shard → prefix offsets via a tiny triangular self-join
    # (num_shards rows; a window here would reintroduce SinglePartition) —
    # the shared primitive in operators/sharding.sharded_prefix_sum
    from purescript_ifrit_spark.operators.sharding import sharded_prefix_sum

    d, cum = sharded_prefix_sum(d, "_shard", order, tokens_col)
    return d.withColumn(
        "pack_id", pack_bin(cum, tokens_col, pack_size)
    ).drop("_shard", "_off")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard pre-training/RAG chunking step.

    chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk may be short; documents
    shorter than one chunk yield exactly one chunk. Pure higher-order
    functions + posexplode — chunking happens in the scan stage, so a
    100 TB corpus chunks at read speed with no shuffle at all."""
    chunks = X.chunk_array(F.col(text_col), chunk_tokens, overlap)
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    ).withColumn(
        # the module's token-count identity, NOT size(split(...)): that
        # form reports 1 for the empty chunk of a blank document and
        # NULL for a NULL one (r8 review) — content-free chunks would
        # consume packing budget / poison pack ids downstream; the
        # coalesce covers the NULL-text chunk (token_count propagates
        # NULL input)
        "chunk_tokens",
        F.coalesce(X.token_count(F.col("chunk_text")), F.lit(0)),
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText repetition
    filters, word-level): fraction of duplicate words and of duplicate word
    2-grams. High values flag boilerplate, keyword spam, and degenerate
    generations; corpus pipelines filter on thresholds per language.

    No reference counterpart (engine extension, same family as
    quality_score). Scan-stage and linear per row: total 2-grams need no
    second array (= n_words - 1 on normalized text), distinct counts are
    one array_distinct each over the single normalized projection. The
    stage boundary keeps the normalization regex evaluated once
    (CollapseProject preserves it — same reasoning as _quality_staged).
    """
    c = F.col(text_col)
    s = F.col("_norm")
    n = F.col("n_words")
    rx2 = r"(?=(\S+ \S+))(?:\S+ ?)"
    staged = df.withColumn("_norm", X.normalize_text(c)).withColumns(
        {
            # NULL text is content-free like blank text (word_shingles'
            # NULL-leg contract): length(NULL)==0 is NULL, so test isNull
            # explicitly or every stat of a missing-text row becomes NULL
            "n_words": F.when(
                s.isNull() | (F.length(s) == 0), F.lit(0)
            ).otherwise(F.length(s) - F.length(F.translate(s, " ", "")) + 1),
            "_dw": F.size(F.array_distinct(F.split(s, " "))),
            "_d2": F.size(
                F.array_distinct(F.regexp_extract_all(s, F.lit(rx2), 1))
            ),
        }
    )
    out = staged.withColumns(
        {
            "dup_word_frac": F.when(n == 0, F.lit(0.0)).otherwise(
                F.round(
                    F.lit(1.0) - F.col("_dw").cast("double") / n.cast("double"),
                    6,
                )
            ),
            "dup_2gram_frac": F.when(n < 2, F.lit(0.0)).otherwise(
                F.round(
                    F.lit(1.0)
                    - F.col("_d2").cast("double") / (n - 1).cast("double"),
                    6,
                )
            ),
        }
    )
    return out.drop("_norm", "_dw", "_d2")


def token_rarity_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token commonness against the corpus unigram table:
    (id, n_tokens, sum_counts, n_hapax, hapax_frac, mean_token_count),
    where counts are corpus-wide token occurrence totals and hapax means a
    token that occurs exactly once in the whole corpus. High hapax_frac
    flags gibberish/OCR noise; high mean_token_count flags stopword soup —
    the commonness axis of quality filtering, complementing
    `quality_score` (shape) and `repetition_stats` (self-similarity).

    Deliberately log-free: per-token surprisal (−log p) would sum doubles
    whose low bits depend on libm's log AND on accumulation order; every
    statistic here is a ratio of exact BIGINT sums (one IEEE division), so
    results are bit-reproducible cross-engine.

    Scale: reuses `_per_doc_term_counts` (map-side explode + per-(term,
    doc) partial combine), derives the vocabulary table from it (one
    term-keyed shuffle), joins back on term (AQE broadcasts
    vocabulary-sized sides when they fit), and re-aggregates per doc (one
    doc-keyed shuffle). The vocabulary is never collected to the driver.
    Docs with zero tokens (blank/NULL text) do not appear, mirroring
    `term_stats`' empty-term rule."""
    per_doc = _per_doc_term_counts(df, id_col, text_col)
    vocab = per_doc.groupBy("term").agg(F.sum("tf_doc").alias("_tfc"))
    joined = per_doc.join(vocab, "term")
    hapax_occ = F.when(F.col("_tfc") <= 1, F.col("tf_doc")).otherwise(F.lit(0))
    agg = joined.groupBy("_doc").agg(
        F.sum("tf_doc").alias("n_tokens"),
        F.sum(F.col("tf_doc") * F.col("_tfc")).alias("sum_counts"),
        F.sum(hapax_occ).alias("n_hapax"),
    )
    return agg.select(
        F.col("_doc").alias(id_col),
        "n_tokens",
        "sum_counts",
        "n_hapax",
        (F.col("n_hapax").cast("double") / F.col("n_tokens")).alias(
            "hapax_frac"
        ),
        (F.col("sum_counts").cast("double") / F.col("n_tokens")).alias(
            "mean_token_count"
        ),
    )


def term_frequency_spectrum(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Vocabulary frequency spectrum (count-of-counts): for each total
    corpus term frequency tf, the number of distinct terms occurring
    exactly tf times — the Zipf curve corpus-health diagnostic (a healthy
    natural-language corpus is near power-law; boilerplate mass shows up
    as spikes, OCR noise as a bloated hapax head).

    Scale: the same exploded per-(term, doc) pre-aggregation as
    `term_stats` (partials collapse map-side before the wide exchange),
    a vocabulary-keyed total, then a tiny (tf → n_terms) aggregation —
    the spectrum has at most O(distinct tf values) rows, bounded by the
    max term frequency, regardless of vocabulary size. The vocabulary is
    never collected or broadcast."""
    per_doc = _per_doc_term_counts(df, id_col, text_col)
    totals = per_doc.groupBy("term").agg(F.sum("tf_doc").alias("tf"))
    return totals.groupBy(F.col("tf").cast("long").alias("tf")).agg(
        F.count(F.lit(1)).alias("n_terms")
    )


def quality_top_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    frac: float = 0.5,
) -> DataFrame:
    """Keep the top `frac` of documents by quality score WITHIN each
    group (typically language) — the relative-threshold curation filter:
    an absolute quality cutoff over-prunes whole languages whose score
    distribution sits lower, a per-group quantile keeps the corpus mix.

    Deterministic: quality is the integer-exact micro-unit formula and
    ties break by id, so the kept set is reproducible to the row. Keeps
    ceil(frac * n) rows per group (every group keeps at least one doc
    for frac > 0).

    Scale: one shuffle on the group key; rank and group size come from
    two windows over the SAME partitioning (one exchange, plan-pinned
    like robust_outliers). Groups must be coarse (languages, domains) —
    a per-group sort holds the group's rows in one task's sort spill,
    which is exactly the distribution languages give."""
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1] (got {frac})")
    from pyspark.sql import Window

    scored = quality_score(df, text_col)
    w_rank = Window.partitionBy(group_col).orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    w_all = Window.partitionBy(group_col)
    return (
        scored.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
        .filter(F.col("_rn") <= F.ceil(F.col("_n") * F.lit(float(frac))))
        .drop("_rn", "_n")
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's OWN
    unigram distribution — the perplexity-style quality filter (documents
    whose tokens are corpus-atypical score high and get pruned; degenerate
    repetition scores low). The language model is the corpus itself, so the
    operator needs no external artifact.

    Output: one row per document with ≥1 token — `xent` (mean of
    −ln p(token), p = corpus_count/corpus_total, natural log) and
    `n_tokens`. p is a ratio of exact integers, so cross-engine drift is
    bounded by one libm ln ulp + summation order (round downstream for
    comparisons).

    100 TB design — three exchanges, none corpus-row-sized after partials:
    the vocabulary aggregates straight off the exploded token stream
    (map-side partials make the exchange vocabulary-sized); the corpus
    total is a SCAN-STAGE `token_count` sum (char-level arithmetic, no
    explode, 1-row broadcast) — equal to the explode-side count by
    construction, and the cheapest possible in-plan total (no driver
    action); scoring joins token rows to the vocab ON TERM (a plain
    equi-join AQE broadcasts when the vocab fits — the tfidf_topk join
    shape) and aggregates by document with map-side partials, so the final
    exchange carries one partial row per (doc, partition), not one per
    token. Spark does NOT stage-share the two uses of the token stream
    (measured: no ReusedExchange), so everything self-referential here is
    either pre-aggregated or computed scan-stage instead of re-exploded."""
    # A per-(term, doc) pre-aggregation was TRIED here (r8 review
    # suggestion) and REVERTED: it shrinks the rows flowing through the
    # term join, but only by ADDING a (term, doc)-keyed exchange of the
    # token stream — a corpus-fraction shuffle this plan otherwise does
    # not have (the pinned plan test caught it). The shape below moves
    # ZERO corpus-sized bytes: the vocab exchange is vocabulary-sized
    # after map-side partials, the join is an AQE broadcast probe
    # evaluated map-side, and the doc-keyed exchange carries one partial
    # row per (doc, partition). Join CPU over per-occurrence rows is the
    # deliberate trade — CPU scales out, exchanges do not.
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(X.tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("_ctok"))
    total = df.agg(
        F.sum(X.token_count(F.col(text_col))).alias("_ntok")
    )
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_nll",
            -F.log(
                F.col("_ctok").cast("double") / F.col("_ntok").cast("double")
            ),
        )
    )
    return scored.groupBy(F.col("_doc").alias(id_col)).agg(
        (F.sum("_nll") / F.count(F.lit(1)).cast("double")).alias("xent"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def unigram_logprob_against(
    target: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-target-document mean negative log-probability under the
    REFERENCE corpus's add-one-smoothed unigram LM — the classic
    quality filter recipe (score web documents against a trusted corpus;
    keep the low-perplexity tail). Unlike `unigram_logprob`, the model
    corpus and the scored corpus are different relations.

    Model: p(t) = (c_ref(t) + 1) / (N_ref + V_ref + 1) — Laplace
    smoothing where every unseen token shares the one +1 OOV mass, so
    OOV-heavy documents score high instead of crashing on ln(0). All
    counts are exact integers; cross-engine drift is one libm ln ulp +
    summation order (round downstream, the unigram_logprob convention).

    Output: (id, xent_ref, n_tokens, n_oov) for target docs with ≥1
    token.

    100 TB design (the unigram_logprob shape, split across corpora):
    the ref vocabulary aggregates once with map-side partials
    (vocabulary-sized exchange); N_ref is a scan-stage token_count sum
    and V_ref a vocab-sized count — one broadcast row together; target
    tokens LEFT join the vocab on term (AQE broadcasts when it fits)
    so OOV tokens keep their row with c=0; the final exchange carries
    one partial row per (doc, partition)."""
    ref_toks = ref.select(
        F.explode(X.tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    vocab = ref_toks.groupBy("term").agg(F.count(F.lit(1)).alias("_c"))
    stats = vocab.agg(
        F.sum("_c").alias("_n"), F.count(F.lit(1)).alias("_v")
    )
    tgt = target.select(
        F.col(id_col).alias("_doc"),
        F.explode(X.tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    # coalesce the totals: an EMPTY reference aggregates to (NULL, 0)
    # and would NULL-poison every score — the degenerate-but-defined LM
    # is p(anything) = 1/(0+0+1) = 1, xent 0 (r9 review)
    n0 = F.coalesce(F.col("_n"), F.lit(0))
    scored = (
        tgt.join(vocab, "term", "left")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_nll",
            -F.log(
                (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1)).cast("double")
                / (n0 + F.col("_v") + F.lit(1)).cast("double")
            ),
        )
    )
    return scored.groupBy(F.col("_doc").alias(id_col)).agg(
        (F.sum("_nll") / F.count(F.lit(1)).cast("double")).alias("xent_ref"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("_c").isNull().cast("long")).alias("n_oov"),
    )


def dsir_weights(
    target: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    dim: int = 1024,
) -> DataFrame:
    """Hashed-n-gram importance log-weights for Data Selection via
    Importance Resampling (Xie et al. 2023, DSIR): per target document,
    log w(x) = Σ_grams [ln p_ref(b(g)) − ln p_tgt(b(g))] over unigrams
    and bigrams feature-hashed into `dim` buckets, with add-one
    smoothing per side — the importance weight that reshapes a raw
    corpus toward a reference distribution. Feed the output to
    budget_sample / stratified sampling (Gumbel-top-k resampling in the
    paper) to draw the selected subset.

    The bucket hash is the engine-neutral md5 scheme shared with
    operators/vectorize (conv(md5[:8], 16, 10) % dim), so an oracle
    recomputes the weights exactly; bucket counts are exact integers
    and p_side(b) = (c_side(b) + 1) / (N_side + dim).

    Output: (id, log_weight, n_grams) for target docs with ≥1 gram.

    100 TB design: each side's bucket table aggregates straight off its
    scan-stage gram explode with map-side partials to a `dim`-sized
    relation (dim ~ 2^10..2^16 — metadata-sized); the two tables and
    their totals broadcast; the target gram stream joins buckets
    map-side and the final exchange carries one partial row per
    (doc, partition). Nothing corpus-sized shuffles."""
    if dim <= 0:
        raise ValueError(f"dim must be positive (got {dim})")

    def grams(df: DataFrame, with_id: bool):
        toks = X.tokens(F.col(text_col))
        n = F.size(toks)
        ids = [F.col(id_col).alias("_doc")] if with_id else []
        uni = df.select(*ids, F.explode(toks).alias("_g")).filter(
            F.col("_g") != ""
        )
        bi = df.filter(n >= 2).select(
            *ids,
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, n - 1),
                    F.slice(toks, 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("_g"),
        )
        bucket = (
            F.conv(F.substring(F.md5(F.col("_g")), 1, 8), 16, 10)
            .cast("long") % dim
        ).cast("int")
        keep = ["_doc"] if with_id else []
        return uni.unionAll(bi).select(*keep, bucket.alias("_b"))

    def bucket_table(df: DataFrame, cname: str):
        return grams(df, False).groupBy("_b").agg(
            F.count(F.lit(1)).alias(cname)
        )

    rb = bucket_table(ref, "_cr")
    tb = bucket_table(target, "_ct")
    # coalesce the totals: an empty side aggregates SUM to NULL and
    # would NULL-poison every weight (r9 review — same fix as
    # unigram_logprob_against); the smoothed degenerate LM is uniform
    # 1/dim per bucket
    rtot = rb.agg(F.coalesce(F.sum("_cr"), F.lit(0)).alias("_nr"))
    ttot = tb.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_nt"))
    tgt_grams = grams(target, True)
    scored = (
        tgt_grams.join(F.broadcast(rb), "_b", "left")
        .join(F.broadcast(tb), "_b", "left")
        .crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(ttot))
        .withColumn(
            "_lw",
            F.log(
                (F.coalesce(F.col("_cr"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("_nr") + F.lit(dim)).cast("double")
            )
            - F.log(
                (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("_nt") + F.lit(dim)).cast("double")
            ),
        )
    )
    return scored.groupBy(F.col("_doc").alias(id_col)).agg(
        F.sum("_lw").alias("log_weight"),
        F.count(F.lit(1)).alias("n_grams"),
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean conditional cross-entropy under the corpus's own
    BIGRAM model: mean over adjacent token pairs of −ln p(w₂|w₁) with
    p = c(w₁,w₂)/c(w₁·) — the sharper sibling of `unigram_logprob`
    (word-salad scores high under a bigram model even when its unigram
    distribution looks normal; boilerplate scores near zero). Counts are
    the corpus's own, so no external model artifact.

    Output: one row per document with ≥2 tokens — `xent2` and
    `n_bigrams`. Both counts are exact integers; cross-engine drift is one
    libm ln ulp + summation order (rounded downstream).

    100 TB design (the unigram lessons applied): bigram pairs explode
    SCAN-STAGE (arrays_zip of the token array against itself shifted by
    one — no shuffle); the bigram vocabulary aggregates once with map-side
    partials; the CONTEXT counts c(w₁·) roll up from the bigram vocabulary
    (vocabulary-sized input — the corpus is never re-exploded for them);
    scoring joins pair rows to the vocab (AQE-broadcast when it fits) and
    aggregates per doc with map-side partials."""
    toks = X.tokens(F.col(text_col))
    n = F.size(toks)
    pairs = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, n - 1).alias("w1"),
                F.slice(toks, 2, n - 1).alias("w2"),
            )
        ).alias("_p"),
    ).select("_doc", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    # (same reverted pre-aggregation note as unigram_logprob: a
    # per-(doc, pair) pre-agg only adds a corpus-fraction exchange)
    vocab2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    ctx = vocab2.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    scored = (
        pairs.join(vocab2, ["w1", "w2"])
        .join(ctx, "w1")
        .withColumn(
            "_nll",
            -F.log(F.col("_c12").cast("double") / F.col("_c1").cast("double")),
        )
    )
    return scored.groupBy(F.col("_doc").alias(id_col)).agg(
        (F.sum("_nll") / F.count(F.lit(1)).cast("double")).alias("xent2"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def vocab_divergence(
    df: DataFrame, group_col: str, text_col: str = "text"
) -> DataFrame:
    """Per-group KL divergence of the group's unigram distribution from the
    whole corpus's — the corpus-drift / source-skew report (a source whose
    token mix diverges hard from the pool is boilerplate, another language,
    or spam; monitoring KL across snapshots catches ingest drift).

    Output: (group, kl, n_tokens, vocab_terms), kl in nats =
    Σ_t p_g(t)·ln(p_g(t)/p_c(t)). Finite by construction: every group term
    is a corpus term (the corpus counts ROLL UP from the group counts).
    Ratios of exact integers — cross-engine drift is ln ulps + sum order
    (round downstream).

    100 TB design: one corpus-sized exchange (the (group, term) count,
    map-side partials); corpus counts, group totals, and the corpus total
    all derive from that vocabulary-sized table (never a second corpus
    pass); the scoring join is vocab-sized on both sides."""
    toks = df.select(
        F.col(group_col).alias("_g"),
        F.explode(X.tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    gt = toks.groupBy("_g", "term").agg(F.count(F.lit(1)).alias("_cgt"))
    ct = gt.groupBy("term").agg(F.sum("_cgt").alias("_ct"))
    gtot = gt.groupBy("_g").agg(
        F.sum("_cgt").alias("_tg"),
        F.count(F.lit(1)).alias("_vg"),
    )
    tot = ct.agg(F.sum("_ct").alias("_t"))
    scored = (
        gt.join(ct, "term")
        .join(F.broadcast(gtot), "_g")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_pg", F.col("_cgt").cast("double") / F.col("_tg").cast("double")
        )
        .withColumn(
            "_pc", F.col("_ct").cast("double") / F.col("_t").cast("double")
        )
    )
    return scored.groupBy(F.col("_g").alias(group_col)).agg(
        F.sum(F.col("_pg") * F.log(F.col("_pg") / F.col("_pc"))).alias("kl"),
        F.first("_tg").alias("n_tokens"),
        F.first("_vg").alias("vocab_terms"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the document's DISTINCT
    word n-grams that appear in NO other document — the memorization-risk /
    templating signal (novelty near 0 = the document is assembled from
    corpus-recurring passages; near 1 = genuinely novel text).

    Output: (id, n_grams, n_novel, novelty) for documents with ≥ n tokens.
    Exact integer counts; novelty is one division (round downstream only
    if comparing cross-engine at full precision matters).

    100 TB design: grams are built scan-stage from the token array and
    immediately replaced by their md5 (32-byte keys shuffle instead of
    arbitrarily long gram strings — the same keys the oracle can compute,
    unlike engine-private hashes); document frequency aggregates over the
    distinct (doc, gram) pre-aggregation with map-side partials, and the
    novelty join is gram-keyed with no corpus re-read."""
    if n <= 0:
        raise ValueError(f"n must be positive (got {n})")

    # guard: sequence(1, 0) is the DESCENDING [1, 0], not empty — a doc
    # shorter than n tokens must yield zero grams, not bogus partial ones
    def _mk(toks):
        # bind_once: tokenizer once per row, not per position (the
        # _gram_positions lesson, SCALE.md r7)
        sz = F.size(toks)
        return F.when(
            sz >= n,
            F.transform(
                F.sequence(F.lit(1), sz - n + 1),
                lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
            ),
        ).otherwise(F.array().cast("array<string>"))

    gram_keys = X.bind_once(X.tokens(F.col(text_col)), _mk)
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(gram_keys).alias("_gk"),
    )
    doc_grams = grams.distinct()
    gram_df = doc_grams.groupBy("_gk").agg(F.count(F.lit(1)).alias("_df"))
    flagged = doc_grams.join(gram_df, "_gk")
    return flagged.groupBy(F.col("_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias("n_novel"),
        (
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("novelty"),
    )


def packing_stats(
    packed: DataFrame,
    tokens_col: str = "chunk_tokens",
    pack_col: str = "pack_id",
    pack_size: int = 512,
) -> DataFrame:
    """Bin-level report over pack_sequences output: one row per pack with
    (n_items, n_tokens, overflow, utilization) — the packing-efficiency
    numbers a training-data owner watches (first-fit-in-order lets a bin
    overflow by at most one chunk; every bin except the last is filled to
    ≥ pack_size by construction, so utilization < 1 flags only the tail).

    One exchange keyed by pack with map-side partials; utilization is a
    single IEEE division of the exact integer token sum, so the whole row
    is value-exact cross-engine."""
    if pack_size <= 0:
        raise ValueError(f"pack_size must be positive (got {pack_size})")
    return (
        packed.groupBy(F.col(pack_col).alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col(tokens_col)).cast("long").alias("n_tokens"),
        )
        .select(
            "pack_id",
            "n_items",
            "n_tokens",
            (F.col("n_tokens") > pack_size).alias("overflow"),
            (F.col("n_tokens").cast("double") / float(pack_size)).alias(
                "utilization"
            ),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval for one query over the corpus — the
    classic sparse-retrieval scorer (idf · tf·(k1+1) / (tf + k1·(1−b +
    b·len/avglen)), idf = ln((N−df+0.5)/(df+0.5) + 1)) that contamination
    checks, dedup triage and RAG-ish corpus probes run at scale.

    `query_terms` are matched verbatim (no normalization; a repeated
    term counts once) and scored by bm25_topk_queries' scorer as a
    one-query batch, so for normalized terms the two rankings agree.

    Scale: the query-term screen is a broadcast LEFT-SEMI join that
    lands AT the token explode, so the (term, doc) shuffle is
    match-sized, not corpus-sized; document-frequency and corpus stats
    are term-/1-row-sized aggregates joined back by broadcast; the
    doc-length join is the one corpus-keyed exchange; the final top-k
    is a TakeOrdered, never a global sort or a window.

    Determinism contract: per-doc scores are rounded to 6 decimals
    BEFORE ranking and ties break by id, so the returned set is stable
    cross-engine (the unrounded sum is float-addition-order dependent —
    same convention as the suite's float aggregates)."""
    terms = [t for t in query_terms if t]
    if not terms:
        raise ValueError("query_terms must name at least one term")
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    qterms = df.sparkSession.range(1).select(
        F.lit(0).alias("_qid"),
        F.explode(F.array(*map(F.lit, dict.fromkeys(terms)))).alias("term"),
    )
    postings, doclens = build_bm25_index(df, id_col, text_col)
    return (
        _bm25_scores(postings, doclens, qterms, id_col, k1, b, None)
        .orderBy(F.col("score").desc(), F.col("_doc").asc())
        .limit(k)
        .select(F.col("_doc").alias(id_col), "score")
    )


def bm25_topk_queries(
    docs: DataFrame,
    doc_id_col: str,
    text_col: str,
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Batch Okapi BM25: top-k documents PER QUERY for a whole table of
    queries — the scaled retrieval shape (contamination screens, RAG
    eval sweeps, query-log replays) where bm25_topk's one-query loop
    would rescan the corpus per query. Output (query_id, doc_id, score),
    score rounded to 6 decimals BEFORE ranking with doc-id tiebreak
    (bm25_topk's determinism contract). Query texts are normalized and
    split exactly like the corpus text.

    This is build_bm25_index over `docs` fed straight to
    bm25_topk_queries_indexed (no respread), so the direct and indexed
    paths are one computation. Scale: the query vocabulary rides a
    broadcast LEFT-SEMI join against the tokenized corpus — Catalyst's
    PushDownLeftSemiAntiJoin places it BELOW the (term, doc) partial
    aggregate, at the token explode (an inner join would sit above the
    aggregate and let the pre-aggregation exchange carry every distinct
    (term, doc) pair of the corpus). The shuffled candidate stream is
    therefore match-sized, not corpus-sized × queries. Document
    frequency is computed ONCE per distinct term (not per query), corpus
    stats are a broadcast single row, and the per-query top-k is one
    window over the query-keyed exchange with the limit pushed map-side.

    Cost contract (measured at 100×, SCALE.md): the one large exchange
    is the (query, doc) score aggregation — volume = MATCHED (query,
    doc) pairs. A query term matching a large corpus fraction
    contributes ~zero idf but full shuffle cost. `max_df_frac` turns
    that documented hazard into a mechanism: when set, query terms whose
    document frequency exceeds `max_df_frac · N` are dropped from
    scoring IN-PLAN (both from the score-side candidate stream and the
    contribution sum) — the stop-term screen computed from the corpus's
    own df table, so a degenerate query log cannot shuffle ~docs×queries
    pairs. Default None scores exactly what it is given. The query
    table rides explicit broadcasts, so it must be metadata-sized (up
    to ~millions of (query, term) rows); chunk a larger query log into
    several calls."""
    postings, doclens = build_bm25_index(docs, doc_id_col, text_col)
    return bm25_topk_queries_indexed(
        postings, doclens, queries, query_id_col, query_text_col,
        doc_id_col, k, k1, b, max_df_frac, scoring_partitions=0,
    )


def build_bm25_index(
    docs: DataFrame, doc_id_col: str, text_col: str
) -> "tuple[DataFrame, DataFrame]":
    """Persistable BM25 index of a corpus: the tokenize-once production
    shape — at 100 TB, bm25_topk_queries re-exploding the raw text per
    query batch is the wrong plan; build (term, doc_id, tf) postings
    and (doc_id, n_tokens) doc lengths ONCE, persist them, and score
    every future query batch from the (much smaller, numeric) index.

    Returns (postings, doclens). This is the one postings/doc-length
    builder: bm25_topk and bm25_topk_queries score exactly these frames,
    so the indexed and direct scores cannot diverge (equality
    test-pinned). Persist postings partitioned/bucketed by `term`
    (sources.write_bucketed) — the query-vocab semi-join then prunes
    the postings scan to the matched terms' buckets, the minhash-index
    precedent applied to sparse retrieval."""
    postings = _per_doc_term_counts(docs, doc_id_col, text_col).select(
        "term", F.col("_doc").alias(doc_id_col), F.col("tf_doc").alias("tf")
    )
    doclens = docs.select(
        F.col(doc_id_col),
        X.token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    return postings, doclens


def fold_into_bm25_index(
    postings: DataFrame,
    doclens: DataFrame,
    new_docs: DataFrame,
    doc_id_col: str,
    text_col: str,
    *,
    assume_fresh_ids: bool = False,
) -> "tuple[DataFrame, DataFrame]":
    """Fold newly arrived documents into a prebuilt BM25 index — the
    fold_stream_into_index maintenance pattern applied to retrieval
    (r11): index rows for `new_docs` are built with the SAME shared
    tokenization (`build_bm25_index`), so scoring the folded index is
    value-identical to rebuilding over the full corpus (test-pinned;
    corpus stats — N, avg doclen, df — are computed at query time from
    the folded tables, so idf shifts from the new docs are exact, not
    stale). Returns (postings', doclens'), lazily — persist with the
    same term-sorted/bucketed layout as the original
    (build_bm25_index's docstring contract).

    Ids already present in the index are anti-joined away, so a
    replayed fold (at-least-once ingestion) cannot double a document's
    postings. The anti-join prunes doclens to its id column but is
    still one index-sized exchange; under the rotated-sink discipline
    (each fold reads only screened-fresh docs) pass
    `assume_fresh_ids=True` and the fold touches nothing corpus-sized.
    Measured at the 100× Zipf corpus (42.5M-row postings + 5k docs,
    SCALE.md r11): 12.1 s with the guard, 4.0 s fresh, replayed fold
    bit-for-bit a no-op.

    At-rest contract: the returned union is for immediate in-session
    use — do NOT rewrite a 100 TB postings layout with it. The fresh
    rows are exactly the new batch's index rows minus already-indexed
    ids, so persist incrementally: write THAT frame with mode('append')
    into the stored layout (sorted-file or bucketed-table alike) and
    leave the existing files untouched."""
    new_p, new_l = build_bm25_index(new_docs, doc_id_col, text_col)
    if not assume_fresh_ids:
        existing = doclens.select(doc_id_col)
        new_p = new_p.join(existing, doc_id_col, "left_anti")
        new_l = new_l.join(existing, doc_id_col, "left_anti")
    return (
        postings.unionByName(new_p.select(*postings.columns)),
        doclens.unionByName(new_l.select(*doclens.columns)),
    )


def _default_scoring_partitions(spark) -> int:
    """The session's shuffle-partition count, falling back to the
    cluster's default parallelism when the conf is non-numeric (some
    platforms report e.g. 'auto' there — r10 ADVICE: the default path
    must degrade to a same-order value, not raise ValueError)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def bm25_topk_queries_indexed(
    postings: DataFrame,
    doclens: DataFrame,
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    doc_id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float | None = None,
    scoring_partitions: int | None = None,
    prune_scan_terms: bool = False,
) -> DataFrame:
    """Batch BM25 over a PREBUILT index (build_bm25_index):
    bm25_topk_queries is this function over a fresh build, so the output
    is identical (test-pinned through parquet) but here the corpus text
    is never touched — the one corpus-sized input is
    the numeric postings table, and with term-bucketed postings at rest
    the query-vocab semi-join becomes a scan prune. All
    bm25_topk_queries contracts (match-sized candidate stream, df once
    per distinct term, map-side top-k, `max_df_frac` stop-term screen)
    carry over unchanged.

    `scoring_partitions` respreads the postings before the query-term
    expansion — load-bearing, measured at 100× (SCALE.md): a compact
    numeric index compresses so well that a 500k-doc postings table is
    ONE 53 MB parquet split, and the ×queries expansion then runs in
    one task (539 s → 394 s with the respread on the degenerate
    attestation corpus, where every term matches and the matched-pair
    exchange dominates both paths — the index's structural wins, text
    never read at query time and term-bucket scan pruning, need a real
    corpus/selective queries to show up in wall clock). None (default)
    uses the session's shuffle-partitions setting; pass 0 to skip when
    the stored layout already provides scan parallelism (term-bucketed
    postings with many buckets).

    `prune_scan_terms` turns the query-vocab screen into a SCAN-LEVEL
    literal predicate (r11, VERDICT r10 #2): the distinct normalized
    query terms (metadata-sized by this operator's own broadcast
    contract — one tiny driver job collects them) become `term IN (...)`
    on the postings BEFORE anything else, which Catalyst pushes into the
    parquet source — something the in-plan semi-join can never do. On a
    term-sorted stored layout the pushed predicate skips whole
    row-groups/files by footer min/max; on a term-bucketed catalog
    table it prunes buckets (SelectedBucketsCount in the plan). Results
    are identical with the flag on or off (the semi-join already removes
    non-query terms; this only moves the screen below the scan) —
    plan-pinned (tests/test_plans.py) and measured at 100× in SCALE.md.
    Note Spark's parquet pushdown rewrites IN lists longer than
    spark.sql.parquet.pushdown.inFilterThreshold (default 10) into a
    [min,max] range predicate — still effective on a term-sorted layout,
    where a selective query batch's vocab spans few files."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    qterms = _bm25_query_terms(queries, query_id_col, query_text_col)
    if prune_scan_terms:
        terms = [r.term for r in qterms.select("term").distinct().collect()]
        postings = postings.filter(F.col("term").isin(terms))
    if scoring_partitions is None:
        scoring_partitions = _default_scoring_partitions(
            postings.sparkSession
        )
    if scoring_partitions < 0:
        raise ValueError(
            f"scoring_partitions must be >= 0 (got {scoring_partitions})"
        )
    if scoring_partitions:
        postings = postings.repartition(scoring_partitions)
    from pyspark.sql import Window

    w = Window.partitionBy("_qid").orderBy(
        F.col("score").desc(), F.col("_doc").asc()
    )
    return (
        _bm25_scores(
            postings, doclens, qterms, doc_id_col, k1, b, max_df_frac
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_doc").alias(doc_id_col),
            "score",
        )
    )


def _bm25_query_terms(
    queries: DataFrame, query_id_col: str, query_text_col: str
) -> DataFrame:
    """Distinct (_qid, term) pairs of a query table: the query text is
    normalized and split like the corpus text (_per_doc_term_counts),
    empty terms dropped."""
    return (
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.explode(
                F.split(X.normalize_text(F.col(query_text_col)), " ")
            ).alias("term"),
        )
        .filter(F.length("term") > 0)
        .distinct()
    )


def _bm25_df(
    postings: DataFrame,
    qterms: DataFrame,
    corpus: DataFrame,
    max_df_frac: "float | None",
) -> "tuple[DataFrame, DataFrame]":
    """The df pass of the BM25 scorer and the screen report: (the
    postings of the query vocabulary, (term, _df, _screened)), where
    _screened marks the `max_df_frac` stop terms (df > max_df_frac · N,
    N the `_n` column of the 1-row `corpus`)."""
    if max_df_frac is not None and not (0.0 < max_df_frac <= 1.0):
        raise ValueError(
            f"max_df_frac must be in (0, 1] or None (got {max_df_frac})"
        )
    # a semi-join needs no distinct build side: no aggregate, no job
    vocab = qterms.select("term")
    per_doc = postings.join(F.broadcast(vocab), "term", "left_semi")
    dfreq = per_doc.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    if max_df_frac is None:
        return per_doc, dfreq.withColumn("_screened", F.lit(False))
    screened = F.col("_df") > F.lit(max_df_frac) * F.col("_n")
    return per_doc, dfreq.crossJoin(F.broadcast(corpus.select("_n"))).select(
        "term", "_df", screened.alias("_screened")
    )


def _bm25_scores(
    postings: DataFrame,
    doclens: DataFrame,
    qterms: DataFrame,
    doc_id_col: str,
    k1: float,
    b: float,
    max_df_frac: "float | None",
) -> DataFrame:
    """The one BM25 scorer: (_qid, _doc, score) for distinct (_qid, term)
    query terms over index-form (term, doc_id_col, tf) postings and
    (doc_id_col, n_tokens) doc lengths, score = the sum of idf · tf
    contributions rounded to 6 decimals."""
    postings = postings.select(
        "term", F.col(doc_id_col).alias("_doc"), F.col("tf").alias("tf_doc")
    )
    lens = doclens.select(
        F.col(doc_id_col).alias("_doc"),
        F.col("n_tokens").cast("long").alias("_len"),
    )
    corpus = lens.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_len").alias("_avg")
    )
    per_doc, dfreq = _bm25_df(postings, qterms, corpus, max_df_frac)
    if max_df_frac is not None:
        # df is per-term, so screening AFTER the full-vocab df pass
        # leaves the kept terms' _df values untouched; the kept term
        # list then re-scopes the score-side semi-join, so the stop
        # terms never reach the scoring exchanges at all
        dfreq = dfreq.filter(~F.col("_screened"))
        per_doc = postings.join(
            F.broadcast(dfreq.select("term")), "term", "left_semi"
        )
    idf = F.log(
        (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0
    )
    contrib = idf * (
        (F.col("tf_doc") * (k1 + 1.0))
        / (
            F.col("tf_doc")
            + k1 * (1.0 - b + b * F.col("_len") / F.col("_avg"))
        )
    )
    return (
        per_doc.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq.select("term", "_df")), "term")
        .join(lens, "_doc")
        .crossJoin(F.broadcast(corpus))
        .groupBy("_qid", "_doc")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )


def bm25_query_screen_report(
    postings: DataFrame,
    doclens: DataFrame,
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    *,
    max_df_frac: "float | None" = None,
) -> DataFrame:
    """Per-query observability for the `max_df_frac` stop-term screen
    (VERDICT r10 #6): the scoring paths silently return ZERO rows for a
    query whose every corpus-matching term is screened, and an eval
    pipeline cannot distinguish that from "no match" without re-deriving
    the df census. This sibling helper runs the scorer's own query-term
    normalization and df pass (vocabulary semi-join, df per term, the
    screen) and returns one row per query:

      (query_id, n_terms, n_matched_terms, n_screened_terms,
       screened_all_terms)

    where n_terms counts distinct normalized query terms,
    n_matched_terms those present in the corpus, n_screened_terms the
    matched terms the screen drops (df > max_df_frac * N), and
    screened_all_terms is true iff the query HAD corpus matches but the
    screen dropped every one — exactly the zero-rows-despite-matches
    case. With max_df_frac=None nothing screens and the report is an
    OOV census.

    Takes the index form (postings, doclens) — `build_bm25_index` for
    the direct path's documents. Scale shape: the df pass is the
    scorer's vocab-semi-joined aggregate (term-bucketed postings prune
    it identically), everything after is metadata-sized (terms x
    queries)."""
    qterms = _bm25_query_terms(queries, query_id_col, query_text_col)
    corpus = doclens.agg(F.count(F.lit(1)).alias("_n"))
    _, dfreq = _bm25_df(postings, qterms, corpus, max_df_frac)
    matched = F.col("_df").isNotNull().cast("long")
    screened = F.coalesce(F.col("_screened"), F.lit(False)).cast("long")
    return (
        qterms.join(F.broadcast(dfreq), "term", "left")
        .groupBy(F.col("_qid").alias(query_id_col))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(matched).alias("n_matched_terms"),
            F.sum(screened).alias("n_screened_terms"),
        )
        .withColumn(
            "screened_all_terms",
            (F.col("n_matched_terms") > 0)
            & (F.col("n_screened_terms") == F.col("n_matched_terms")),
        )
    )


def rrf_fuse(
    rankings,
    id_col: str = "doc_id",
    *,
    k: int = 10,
    k0: int = 60,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion over candidate lists from heterogeneous
    retrievers (BM25 + ANN cosine is the classic pair): each system's
    list is ranked by its own score, a document earns
    floor(scale / (k0 + rank)) from every list it appears in, and the
    fused top-k is returned as (id, rrf_score, n_systems).

    `rankings` is a sequence of (DataFrame, score_col) pairs; each frame
    carries (id_col, score_col). Ranks break ties by id, so fusion is
    fully deterministic. The reciprocal is INTEGER fixed-point
    (nano-units by default) — summing integers is exact and
    order-independent, so the fused scores are engine-reproducible
    without float-summation caveats (the quality-score micro-unit
    convention applied to RRF; Cormack et al. 2009's 1/(k0+r) with
    k0=60).

    This is rrf_fuse_queries' fuser run over one constant query, then a
    global TakeOrdered top-k. Scale contract: inputs are CANDIDATE
    LISTS (each system's top-N, thousands of rows), not corpora — the
    one query's lists meet in a single partition, which is exactly
    right for a driver-bounded candidate set and exactly wrong for a
    corpus; feed corpus-sized relations through bm25_topk / ann_topk
    first.

    Each ranking must be UNIQUE by id: a duplicated id inside one list
    would earn two reciprocal contributions from the same system —
    silent double counting. The fuse counts distinct systems per id and
    FAILS THE TASK in-plan when any id carries more rows than systems
    (the module's loud-guard policy); dedup the candidate list first if
    a retriever can emit repeats."""
    return (
        _rrf_fuse(rankings, F.lit(0), id_col, k, k0, scale, "rrf_fuse")
        .orderBy(F.col("rrf_score").desc(), F.col("_fid").asc())
        .limit(k)
        .select(F.col("_fid").alias(id_col), "rrf_score", "n_systems")
    )


def rrf_fuse_queries(
    rankings,
    query_id_col: str = "qid",
    id_col: str = "doc_id",
    *,
    k: int = 10,
    k0: int = 60,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Grouped reciprocal-rank fusion: rrf_fuse for a whole table of
    queries at once — the missing link between the per-query batch
    retrievers (bm25_topk_queries, ann sweeps) and a fused ranking, so
    a 10k-query retrieval-eval log fuses in ONE plan instead of a
    driver loop. Each element of `rankings` is a (DataFrame, score_col)
    pair carrying (query_id_col, id_col, score_col) — one system's
    candidate lists for every query. Output (query_id, id, rrf_score,
    n_systems): per query, per document, the exact integer fixed-point
    sum of floor(scale / (k0 + rank-within-that-query's-list)) over the
    systems that retrieved it, top-k per query.

    rrf_fuse runs this same fuser over one constant query, so a 1-query
    batch returns exactly rrf_fuse's fusion (test-pinned).

    Scale: inputs are per-query CANDIDATE LISTS (queries × top-N rows,
    metadata-sized), and the whole fuse is ONE qid-keyed exchange — the
    explicit repartition up front co-locates each query's lists, after
    which the per-(query, system) ranking window, the (query, doc)
    fusion aggregate, and the per-query top-k window all reuse that
    partitioning (hashpartitioning(qid) satisfies every downstream
    clustering, so Catalyst inserts no further exchange; plan-pinned).
    The top-k filter is a row_number window, so WindowGroupLimit pushes
    the limit map-side.

    Duplicate-id contract (rrf_fuse's loud guard, per query): each
    system's list must be unique by (query, id) — a repeat would earn
    two contributions from one system, silent double counting — and the
    fuse FAILS THE TASK in-plan when any (query, id) carries more rows
    than distinct systems."""
    return _rrf_fuse(
        rankings, F.col(query_id_col), id_col, k, k0, scale,
        "rrf_fuse_queries",
    ).select(
        F.col("_qid").alias(query_id_col),
        F.col("_fid").alias(id_col),
        "rrf_score",
        "n_systems",
    )


def _rrf_fuse(
    rankings, qid: Column, id_col: str, k: int, k0: int, scale: int, name: str
) -> DataFrame:
    """The one RRF fuser: (_qid, _fid, rrf_score, n_systems), the top-k
    per `qid` value by rrf_score desc then id; `name` heads the
    duplicate-id guard's message."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    if k0 < 0:
        raise ValueError(f"k0 must be >= 0 (got {k0})")
    if not rankings:
        raise ValueError("rankings must name at least one (df, score_col)")
    from pyspark.sql import Window

    parts = [
        rdf.select(
            qid.alias("_qid"),
            F.col(id_col).alias("_fid"),
            F.lit(i).alias("_sys"),
            F.col(score_col).alias("_s"),
        )
        for i, (rdf, score_col) in enumerate(rankings)
    ]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionAll(p)
    # the ONE exchange: everything below clusters on _qid already
    allp = allp.repartition(F.col("_qid"))
    w = Window.partitionBy("_qid", "_sys").orderBy(
        F.col("_s").desc(), F.col("_fid").asc()
    )
    ranked = allp.withColumn("_r", F.row_number().over(w)).select(
        "_qid",
        "_fid",
        "_sys",
        # `div` = exact integer division (a double divide + cast could
        # round up across the floor boundary at the ulp)
        F.expr(
            f"CAST({scale} AS BIGINT) div (CAST({k0} AS BIGINT) + _r)"
        ).alias("_rrf"),
    )
    fused = ranked.groupBy("_qid", "_fid").agg(
        F.sum("_rrf").alias("rrf_score"),
        F.count_distinct(F.col("_sys")).alias("n_systems"),
        F.count(F.lit(1)).alias("_rows"),
    )
    dup_ok = F.assert_true(
        F.col("_rows") == F.col("n_systems"),
        F.concat(
            F.lit(
                f"{name}: an id appears more than once within one "
                "ranking (silent double counting) — dedup each candidate "
                "list by id first; id "
            ),
            F.col("_fid").cast("string"),
        ),
    )
    # the guard rides the CONSUMED score column or Catalyst prunes it
    fused = fused.withColumn(
        "rrf_score", F.when(dup_ok.isNull(), F.col("rrf_score"))
    )
    wk = Window.partitionBy("_qid").orderBy(
        F.col("rrf_score").desc(), F.col("_fid").asc()
    )
    return fused.withColumn("_rk", F.row_number().over(wk)).filter(
        F.col("_rk") <= k
    )


def truncate_documents(
    df: DataFrame, id_col: str, text_col: str, max_tokens: int
) -> DataFrame:
    """Token-budget truncation: cap every document at `max_tokens`
    whitespace tokens of its normalized text, reporting original/kept
    counts and the truncation flag — the context-length guard a training
    pipeline applies before packing (a 2M-token outlier document must
    not blow up a 512-token packer; truncate-and-flag beats drop).

    Scan-stage only (split + slice + array_join higher-order
    expressions), no shuffle, no UDF."""
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive (got {max_tokens})")
    s = X.normalize_text(F.col(text_col))
    toks = F.split(s, " ")
    n = F.when(F.length(s) == 0, F.lit(0)).otherwise(
        F.length(s) - F.length(F.translate(s, " ", "")) + 1
    ).cast("long")
    return df.select(
        F.col(id_col),
        F.array_join(F.slice(toks, 1, max_tokens), " ").alias("text_trunc"),
        n.alias("n_tokens_orig"),
        F.least(n, F.lit(max_tokens).cast("long")).alias("n_tokens_kept"),
        (n > max_tokens).alias("truncated"),
    )


def pack_text(
    chunks: DataFrame,
    order_cols=("doc_id", "chunk_idx"),
    text_col: str = "chunk_text",
    pack_col: str = "pack_id",
    sep: str = "\n",
) -> DataFrame:
    """Materialize packed training sequences as TEXT: one row per pack
    with its chunks joined in packing order — the step that turns
    pack_sequences' (chunk → pack_id) manifest into the actual sequence
    payloads a trainer tokenizes. Output: (pack_col, n_chunks,
    packed_text).

    One exchange (the pack-keyed aggregation); ordering inside a pack is
    reconstructed from the collected (order_cols, text) structs via
    sort_array — struct comparison is field-order lexicographic, so the
    packing order keys must lead the struct — never from partition
    order."""
    order = list(order_cols)
    gathered = F.sort_array(
        F.collect_list(F.struct(*order, text_col))
    )
    joined = F.array_join(
        F.transform(gathered, lambda s: s[text_col]), sep
    )
    return chunks.groupBy(pack_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        joined.alias("packed_text"),
    )


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words: int = GOPHER_DEFAULTS["min_words"],
    max_words: int = GOPHER_DEFAULTS["max_words"],
    min_mean_word_len: float = GOPHER_DEFAULTS["min_mean_word_len"],
    max_mean_word_len: float = GOPHER_DEFAULTS["max_mean_word_len"],
    max_symbol_ratio: float = GOPHER_DEFAULTS["max_symbol_ratio"],
    min_alpha_frac: float = GOPHER_DEFAULTS["min_alpha_frac"],
    min_stopwords: int = GOPHER_DEFAULTS["min_stopwords"],
) -> DataFrame:
    """Rule-based document quality flags after the Gopher heuristics
    (Rae et al. 2021 §A1.1 — the public rule set MassiveWeb filtered
    with), complementing the STATISTICAL quality_score: each rule is a
    reported column so a curation run can audit WHICH rule rejected a
    document, plus the combined `gopher_pass`.

    Word-level rules only (word count bounds, mean word length bounds,
    symbol-to-word ratio for '#'/'…', fraction of words with an
    alphabetic character, stopword presence); the paper's line-level
    rules (bullet/ellipsis line fractions) need multi-line documents —
    see encoding_quality for the char-class screens that cover
    single-line corpora.

    100 TB design: pure scan-stage HOF expressions over the shared
    normalized token array — zero shuffles at scale, codegen'd, composes
    with any downstream filter without materialization. On an
    UNDER-partitioned input (a bench/test-scale single-row-group file —
    one scan partition regardless of cores) the rule expressions ran
    serially on one core; the guarded spread below parallelizes them for
    one tiny id+text exchange and no-ops at corpus scale (r14
    optimization round, guide §2.6 — measured 0.76 -> 0.36 s at
    sf0.1/32; per-row flags are value-identical under any
    partitioning)."""
    from purescript_ifrit_spark.operators.dedup import _fanout_narrow_scan

    df = _fanout_narrow_scan(df, id_col)
    n_words, mean_wl, symbol_ratio, alpha_frac, n_stop = _gopher_parts(
        F.col(text_col)
    )
    gpass = _gopher_combine(
        n_words, mean_wl, symbol_ratio, alpha_frac, n_stop,
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_symbol_ratio, min_alpha_frac, min_stopwords,
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stopwords"),
        gpass.alias("gopher_pass"),
    )


def _gopher_parts(raw):
    """The five Gopher rule measurements as Column expressions over one
    raw-text column (gopher_pass_sql renders the same arithmetic for the
    dialect GOPHER scalar)."""
    toks = X.tokens(raw)
    norm = X.normalize_text(raw)
    blank = F.length(norm) == 0
    n_words = F.when(blank, F.lit(0)).otherwise(F.size(toks)).cast("long")
    # sum of token lengths == nonspace chars of the single-space-
    # normalized text: length(norm) minus its n-1 separators — the same
    # O(chars) identity _quality_staged uses, no per-token HOF fold
    sum_len = F.length(norm) - F.greatest(n_words - 1, F.lit(0))
    mean_wl = F.when(
        n_words > 0, sum_len.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_symbols = (
        F.length(raw) - F.length(F.replace(raw, F.lit("#"), F.lit("")))
    ) + F.size(F.split(raw, r"\.\.\.")) - 1
    symbol_ratio = F.when(
        n_words > 0, n_symbols.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_alpha = F.when(blank, F.lit(0)).otherwise(
        F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    )
    alpha_frac = F.when(
        n_words > 0, n_alpha.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    return n_words, mean_wl, symbol_ratio, alpha_frac, n_stop


def _gopher_combine(
    n_words, mean_wl, symbol_ratio, alpha_frac, n_stop,
    min_words, max_words, min_mean_word_len, max_mean_word_len,
    max_symbol_ratio, min_alpha_frac, min_stopwords,
):
    return (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (alpha_frac >= min_alpha_frac)
        & (n_stop >= min_stopwords)
    )


def vocab_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_every: int = 50,
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: at id-ordered corpus
    checkpoints, the cumulative token count, cumulative vocabulary size
    (distinct tokens first seen at or before the checkpoint) and
    type-token ratio — the curve that says whether more data still buys
    new vocabulary or the corpus has saturated (dedup/dataset-mixing
    feedback; token-budget planning reads the TTR knee).

    A document belongs to checkpoint ((id div every) + 1) * every; a
    checkpoint appears iff some document (with at least one token)
    lands in its bucket. Tokens are the module convention
    (functions/text.tokens: normalized whitespace split, '' dropped).

    100 TB design: one explode + two keyed aggregations (term-level
    MIN(checkpoint) is the only wide shuffle — term-keyed, the same
    scale class as term_stats), then cumulative windows over the GRID
    relation only, whose row count is corpus_size / checkpoint_every —
    the single-partition window is bounded by the curve's own
    resolution, never by the corpus."""
    from pyspark.sql import Window

    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1 (got {checkpoint_every})")
    cp = (
        # backquoted reference (r8 review): a raw f-string name parses
        # `doc-id` as subtraction and breaks on spaces/reserved words
        F.expr(
            f"((`{id_col}` div {checkpoint_every}) + 1) * {checkpoint_every}"
        )
        .cast("long")
        .alias("checkpoint")
    )
    tok = df.select(
        cp, F.explode(X.tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tok_by_cp = tok.groupBy("checkpoint").agg(
        F.count(F.lit(1)).alias("_n_tok")
    )
    first_cp = tok.groupBy("term").agg(F.min("checkpoint").alias("_fcp"))
    vocab_by_cp = first_cp.groupBy(F.col("_fcp").alias("checkpoint")).agg(
        F.count(F.lit(1)).alias("_n_new")
    )
    grid = tok_by_cp.join(vocab_by_cp, "checkpoint", "left").select(
        "checkpoint",
        F.col("_n_tok"),
        F.coalesce(F.col("_n_new"), F.lit(0)).alias("_n_new"),
    )
    w = Window.orderBy("checkpoint").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.select(
        "checkpoint",
        F.sum("_n_tok").over(w).cast("long").alias("cum_tokens"),
        F.sum("_n_new").over(w).cast("long").alias("cum_vocab"),
    ).withColumn(
        "ttr",
        F.round(
            F.col("cum_vocab").cast("double") / F.col("cum_tokens"), 6
        ),
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
    min_count: int = 3,
) -> DataFrame:
    """Top collocations (adjacent-bigram phrase mining) by a rational
    PMI proxy: score(w1, w2) = n_12 · N / (n_1 · n_2), the lift of the
    bigram over token independence (PMI without the log — the log is
    monotone, so the RANKING is identical, and the rational form is
    engine-exact where log PMI drifts by libm ulps). The corpus-mining
    step that surfaces multiword units ("new york", "machine learning")
    before tokenizer/vocab decisions.

    Output: (w1, w2, n_12, score) — top_k by score desc (bigram asc
    tie-break), bigrams with n_12 >= min_count (rare pairs make the
    lift degenerate: a once-seen pair of two hapaxes scores N).

    100 TB design: bigrams explode scan-stage (arrays_zip of the
    bind_once'd token array against its shift — no shuffle); ONE
    (w1,w2)-keyed exchange builds the bigram vocabulary with map-side
    partials; unigram counts roll up FROM that vocabulary (context
    totals, vocabulary-sized — the corpus is never re-exploded), so
    scoring is vocab-sized joins + one broadcast 1-row total. Uses
    left-context totals c(w·) for n_1 and right-context c(·w) for n_2,
    i.e. counts over bigram positions — N is the bigram total, keeping
    all four operands from ONE relation (the standard collocation
    normalization; a separate unigram pass would disagree with the
    bigram universe at document edges)."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1 (got {top_k})")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1 (got {min_count})")

    def _pairs(toks):
        n = F.size(toks)
        return F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"),
            F.slice(toks, 2, n - 1).alias("w2"),
        )

    pairs = df.select(
        F.explode(X.bind_once(X.tokens(F.col(text_col)), _pairs)).alias("_p")
    ).select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    vocab2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_12"))
    left = vocab2.groupBy("w1").agg(F.sum("n_12").alias("_n1"))
    right = vocab2.groupBy("w2").agg(F.sum("n_12").alias("_n2"))
    total = vocab2.agg(F.sum("n_12").alias("_nn"))
    scored = (
        vocab2.filter(F.col("n_12") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("n_12").cast("long").alias("n_12"),
            F.round(
                (F.col("n_12").cast("double") * F.col("_nn").cast("double"))
                / (F.col("_n1").cast("double") * F.col("_n2").cast("double")),
                6,
            ).alias("score"),
        )
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_k)


# Unicode script ranges shared by script_profile and its oracle builder.
# (name, lo, hi) — BMP core blocks; Java regex spells them \uXXXX, RE2
# (DuckDB) \x{XXXX}, so each engine renders its own escape from this one
# table and the classes can never diverge.
SCRIPT_RANGES = (
    ("latin", 0x0041, 0x007A),      # A-Z a-z (plus [\]^_` — excluded below)
    ("cyrillic", 0x0400, 0x04FF),
    ("arabic", 0x0600, 0x06FF),
    ("cjk", 0x4E00, 0x9FFF),
    ("hangul", 0xAC00, 0xD7AF),
)


def _script_rx_java(name: str, lo: int, hi: int) -> str:
    if name == "latin":
        return "[A-Za-z]"
    return f"[\\u{lo:04X}-\\u{hi:04X}]"


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document script histogram — the multilingual-corpus routing
    signal (lang_id's n-gram heuristic only separates LATIN languages;
    script counts separate writing systems, which is the first split a
    multilingual pipeline makes): counts of Latin / Cyrillic / Arabic /
    CJK / Hangul codepoints plus the dominant script ('none' for
    text with no scripted characters; ties break in SCRIPT_RANGES
    order, deterministically).

    Scan-stage: one regexp_count per script class over the raw text,
    dominance is a CASE chain over the integer columns — zero UDFs,
    zero shuffles, and every output is an exact integer or a
    deterministic label, so the oracle is value-exact."""
    c = F.col(text_col)
    counts = {
        name: F.regexp_count(c, F.lit(_script_rx_java(name, lo, hi)))
        for name, lo, hi in SCRIPT_RANGES
    }
    out = df.select(
        F.col(id_col),
        *[counts[n].cast("long").alias(f"n_{n}") for n, _, _ in SCRIPT_RANGES],
    )
    mx = F.greatest(*[F.col(f"n_{n}") for n, _, _ in SCRIPT_RANGES])
    dom = F.lit("none")
    # reversed: earlier ranges win ties because they are applied LAST
    for name, _, _ in reversed(SCRIPT_RANGES):
        dom = F.when(
            (mx > 0) & (F.col(f"n_{name}") == mx), F.lit(name)
        ).otherwise(dom)
    return out.withColumn("dominant", dom)


# ---------------------------------------------------------------------------
# content-defined chunking (Rabin-style rolling-hash boundaries)
# ---------------------------------------------------------------------------

CDC_WINDOW = 8     # rolling-hash window, chars
CDC_DIVISOR = 64   # boundary where window-hash % divisor == 0 (mean chunk)


def cdc_chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Content-defined chunking: split each document where the rolling
    hash of the trailing `window` chars is ≡ 0 (mod `divisor`) — the
    Rabin construction underlying rsync/LBFS/dedup stores. Unlike
    fixed-size chunking, an insertion shifts only the chunks it touches:
    every boundary is a pure function of local content, so identical
    passages chunk identically at ANY offset — the property that makes
    chunk-hash dedup robust to prepended boilerplate.

    Contract (mirrored by the oracle): boundary AFTER char i (1-based)
    for i in [window, n-1] iff fold(h*31 + codepoint, window chars
    ending at i) mod (2^31-1) ≡ 0 (mod divisor); no min/max chunk
    bounds (bounded variants need a sequential scan; degenerate
    periodic content can produce runs of tiny chunks — cap downstream
    if that matters). Empty/NULL documents yield zero chunks.

    Implementation: one Arrow mapInPandas pass, numpy-vectorized. The
    fold is linear under mod, so the per-position window hash equals
    (Σⱼ (31^(w-1-j) mod M)·cⱼ) mod M — one sliding-window int64 matvec
    per document. The weights are pre-reduced mod M (pow(B, e, M)), so
    each term is < M·0x10FFFF ≈ 2^51.1 and the window sum stays inside
    int64 for window ≤ 3800 (guarded; CDC windows are 4-64 in practice)
    instead of w interpreted HOF steps per char. Measured at
    sf0.1/local[32], fresh plan per run: 4.4 s → 0.62 s steady,
    bit-identical output (pinned vs the retained HOF form in
    test_cdc_arrow_equals_hof). Codepoint semantics are exact on both
    engines: utf-32 units here ≡ DuckDB ord() ≡ Spark ascii() on
    codepoint-split strings.

    100 TB design: scan-stage, no wide exchange — chunking happens at
    read speed in Arrow batches. CPU-dense work on a narrow input (one
    small file → one split) would serialize on a single core: narrow
    scan chains fan out to cluster width first
    (dedup._fanout_narrow_scan)."""
    from purescript_ifrit_spark.operators.dedup import _fanout_narrow_scan

    if window > 3800:
        raise ValueError(
            f"cdc window={window} exceeds the int64-exact bound (3800): "
            "each weighted term is < M*0x10FFFF ~ 2^51.1, so the window "
            "sum wraps int64 above ~3800 terms; use the HOF form "
            "(cdc_chunk_documents_hof) for wider windows"
        )
    df = _fanout_narrow_scan(df, id_col)
    B, M = X.ROLLING_BASE, X.ROLLING_MOD
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, chunk_idx int, n_chunks int, "
        "chunk string, chunk_fp string"
    )

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        # pre-reduced mod M: (sum (B^e mod M)*c) mod M == fold((h*B+c) mod M)
        # by congruence, and keeps every term < M*0x10FFFF (int64-safe for
        # any guarded window), where raw B^e wraps int64 at window >= 14
        pws = np.array(
            [pow(B, window - 1 - j, M) for j in range(window)],
            dtype=np.int64,
        )
        for pdf in batches:
            ids, idxs, ns, chks, fps = [], [], [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None or len(txt) == 0:
                    continue
                try:
                    cp = np.frombuffer(
                        txt.encode("utf-32-le"), dtype="<u4"
                    ).astype(np.int64)
                except UnicodeEncodeError:
                    # lone surrogates can't encode; ord() still yields
                    # their codepoint, matching the JVM form
                    cp = np.fromiter(
                        map(ord, txt), dtype=np.int64, count=len(txt)
                    )
                n = cp.size
                if n - 1 >= window:
                    win = np.lib.stride_tricks.sliding_window_view(
                        cp, window
                    )[: n - window]
                    h = (win * pws).sum(axis=1) % M
                    bounds = (np.nonzero(h % divisor == 0)[0] + window).tolist()
                else:
                    bounds = []
                cuts = [0] + bounds + [n]
                m = len(cuts) - 1
                for k in range(m):
                    piece = txt[cuts[k]: cuts[k + 1]]
                    ids.append(did)
                    idxs.append(k)
                    ns.append(m)
                    chks.append(piece)
                    # surrogatepass = WTF-8, the byte form a JVM UTF8String
                    # would hold for a lone surrogate; strict utf-8 would
                    # raise inside the worker on the same poison input the
                    # ord() fallback above exists to survive
                    fps.append(
                        hashlib.md5(
                            piece.encode("utf-8", errors="surrogatepass")
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "chunk_idx": pd.array(idxs, dtype="int32"),
                    "n_chunks": pd.array(ns, dtype="int32"),
                    "chunk": chks,
                    "chunk_fp": fps,
                }
            )

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def cdc_chunk_documents_hof(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """The pure-JVM higher-order-function form of cdc_chunk_documents —
    same contract, same output, no Python workers. Retained as the
    cross-implementation pin (test_cdc_arrow_equals_hof) and for
    deployments that must stay JVM-only; it costs ~window interpreted
    ops per char (7× the Arrow path at sf0.1), which is why the Arrow
    form is the default."""
    from purescript_ifrit_spark.operators.dedup import _fanout_narrow_scan

    df = _fanout_narrow_scan(df, id_col)
    B, M = X.ROLLING_BASE, X.ROLLING_MOD

    def hw(chars, i):
        return F.aggregate(
            F.sequence(i - (window - 1), i),
            F.lit(0).cast("long"),
            lambda h, p: (h * B + F.ascii(F.element_at(chars, p))) % M,
        )

    def mk(chars):
        n = F.size(chars)
        bounds = F.when(
            n - 1 >= window,
            F.filter(
                F.sequence(F.lit(window), n - 1),
                lambda i: hw(chars, i) % divisor == 0,
            ),
        ).otherwise(F.array().cast("array<int>"))
        cuts = F.concat(
            F.array(F.lit(0)), bounds, F.array(n)
        )
        return X.bind_once(
            cuts,
            lambda cts: F.transform(
                F.sequence(F.lit(1), F.size(cts) - 1),
                lambda k: F.array_join(
                    F.slice(
                        chars,
                        F.element_at(cts, k) + 1,
                        F.element_at(cts, k + 1) - F.element_at(cts, k),
                    ),
                    "",
                ),
            ),
        )

    chunks = F.when(
        F.length(F.col(text_col)) > 0,
        X.bind_once(F.split(F.col(text_col), ""), mk),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(id_col, chunks.alias("_chunks"))
        .select(
            id_col,
            F.size(F.col("_chunks")).cast("int").alias("n_chunks"),
            F.posexplode(F.col("_chunks")).alias("chunk_idx", "chunk"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "n_chunks",
            "chunk",
            F.md5(F.col("chunk")).alias("chunk_fp"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_token_col: str = "token",
) -> DataFrame:
    """Out-of-vocabulary profile of each document against a FIXED vocab
    table (a model artifact: tokenizer vocabulary, allowlist, embedding
    rows) — the coverage check run before committing a corpus to a
    tokenizer. Adds n_tok / n_oov / n_unique_oov / oov_rate per doc;
    zero-token documents survive with zeros.

    100 TB design: the vocab side is model-sized, so it rides a
    broadcast (explicit hint — never a shuffle of the corpus tokens
    against it); the corpus side is one explode + one (id)-keyed
    aggregation, plus the id-keyed join-back that restores token-less
    docs. Token contract is functions/text.tokens (normalized
    whitespace split), counted over OCCURRENCES, not distinct types."""
    toks = df.select(
        F.col(id_col), F.explode(X.tokens(F.col(text_col))).alias("_tok")
    ).filter(F.col("_tok") != "")
    v = F.broadcast(
        vocab.select(F.col(vocab_token_col).alias("_tok")).distinct()
        .withColumn("_in_v", F.lit(True))
    )
    agg = (
        toks.join(v, "_tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tok"),
            F.sum(F.col("_in_v").isNull().cast("int")).cast("int").alias(
                "n_oov"
            ),
            F.count_distinct(
                F.when(F.col("_in_v").isNull(), F.col("_tok"))
            ).cast("int").alias("n_unique_oov"),
        )
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tok"), F.lit(0)).alias("n_tok"),
            F.coalesce(F.col("n_oov"), F.lit(0)).alias("n_oov"),
            F.coalesce(F.col("n_unique_oov"), F.lit(0)).alias(
                "n_unique_oov"
            ),
            F.when(
                F.coalesce(F.col("n_tok"), F.lit(0)) > 0,
                F.round(F.col("n_oov") / F.col("n_tok"), 6),
            ).otherwise(F.lit(0.0)).alias("oov_rate"),
        )
    )
