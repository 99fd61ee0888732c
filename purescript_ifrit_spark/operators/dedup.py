"""Deduplication operators for large-scale corpus curation.

Five strategies, all shuffle-conscious (SURVEY.md §2.7; no reference
counterpart — these are the driver-mandated training-data-pipeline ops):

- exact        : hash-groupBy on a fingerprint — one shuffle on the dedup key
- minhash LSH  : shingle → minhash → band → equi-join on band keys —
                 candidate generation is a join, never an O(n²) cross
- simhash      : 64-bit signature → bit-slice blocking → hamming filter
- n-gram Jaccard: exact Jaccard over shingle sets within LSH blocks
- embedding    : near-dup by cosine over an embedding column (see
                 operators/similarity.py for the kernel)

100 TB design notes, per stage:
- signatures are computed in the scan stage (no shuffle, codegen'd
  expressions from functions/hashing.py)
- the only wide exchange is the band-key join; band keys are 64-bit hashes,
  so the join is uniform unless the corpus has pathological boilerplate —
  mitigate hot bands by `spark.sql.adaptive.enabled` (AQE skew join) or by
  capping bucket size (`max_bucket` below: drops degenerate bands like
  empty-string boilerplate, standard practice in web-scale dedup)
- pair verification (exact Jaccard / hamming) happens only on candidates
  inside each bucket
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from purescript_ifrit_spark.functions import hashing as H
from purescript_ifrit_spark.functions import text as X


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def _orderable(dt: T.DataType) -> bool:
    """Whether `_sort_key` can order values of `dt`: everything but
    variants, UDTs and intervals, at any depth."""
    if isinstance(dt, T.MapType):
        return _orderable(dt.keyType) and _orderable(dt.valueType)
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return not isinstance(
        dt, (T.VariantType, T.UserDefinedType, T.CalendarIntervalType)
    )


def _holds_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _holds_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_holds_map(f.dataType) for f in dt.fields)
    return False


def _sort_key(c: Column, dt: T.DataType) -> Column:
    """`c` as an orderable value that is equal exactly when `c` is. Spark
    cannot order maps, so a map becomes its entries sorted by key (map
    keys are unique, so that order is total), recursing through arrays,
    structs and map values that hold maps."""
    if not _holds_map(dt):
        return c
    if isinstance(dt, T.MapType):
        return F.array_sort(F.transform(
            F.map_entries(c),
            lambda e: F.struct(
                _sort_key(e["key"], dt.keyType).alias("key"),
                _sort_key(e["value"], dt.valueType).alias("value"),
            ),
        ))
    if isinstance(dt, T.ArrayType):
        return F.transform(c, lambda x: _sort_key(x, dt.elementType))
    return F.when(c.isNotNull(), F.struct(
        *[_sort_key(c[f.name], f.dataType).alias(f.name) for f in dt.fields]
    ))


def _tiebreak(df: DataFrame, skip: Sequence[str]) -> List[Column]:
    """Ascending sort keys over every column of `df` outside `skip`, so a
    rank-1 window ordered by (order_col, *these) picks one survivor per
    group whatever the input partitioning: rows that tie on every key are
    value-identical. Columns `_orderable` rejects are left out; rows that
    differ only there stay an arbitrary choice."""
    return [
        _sort_key(F.col(f"`{f.name}`"), f.dataType).asc()
        for f in df.schema.fields
        if f.name not in skip and _orderable(f.dataType)
    ]


def dedup_exact(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
) -> DataFrame:
    """Keep exactly one row per distinct `key_cols` — the one with the
    smallest `order_col`, ties broken by the remaining columns in order
    (deterministic under any partitioning, unlike dropDuplicates; see
    _tiebreak).

    Implementation: rank-1 window with Spark's WindowGroupLimit pushdown
    (r14 optimization round, guide §2.3): the former min_by(struct(payload))
    aggregation carried a var-width struct buffer, which disqualifies
    HashAggregate/ObjectHashAggregate and planned as SortAggregate — two
    full payload sorts with per-row struct buffer copies. The rank-1 window
    plans as Sort + WindowGroupLimit(Partial) BELOW the exchange (at most
    one surviving row per key per input partition — the same shuffle bound
    as the partial aggregate) and Sort + WindowGroupLimit(Final) above it.
    Same single shuffle on the key, measured ~1.3× faster at sf0.1 and
    value-identical output including column order. The tiebreak keys only
    cost comparisons between rows that tie on `order_col` (map columns
    also add their sorted entries to the shuffled rows).
    """
    others = [c for c in df.columns if c not in key_cols]
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col(order_col).asc(), *_tiebreak(df, [*key_cols, order_col])
    )
    out = (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    return out.select(*key_cols, *others)


def dedup_exact_text(
    df: DataFrame, text_col: str, order_col: str,
    norm_col: Optional[str] = None,
) -> DataFrame:
    """Exact content dedup on the *normalized* text fingerprint (md5), the
    standard first pass of a corpus pipeline. Keeps the smallest
    `order_col` per fingerprint, ties broken by the remaining columns
    (see dedup_exact).

    Single hash-shuffle on the fingerprint via a rank-1 window with
    WindowGroupLimit pushdown (one candidate row per fingerprint per
    partition crosses the exchange — see dedup_exact for why this beats
    the min_by struct aggregation) — no join-back pass. `norm_col` names
    an already-normalized projection
    of `text_col` (md5(norm_col) ≡ fingerprint(text_col)): pipelines that
    materialized normalize_text once pass it to skip the regex re-run
    (Catalyst does not CSE across operators — see pipeline.curate)."""
    fp = (
        F.md5(F.col(norm_col)) if norm_col is not None
        else X.fingerprint(F.col(text_col))
    )
    # NULL-text rows are NOT duplicates of each other (r8 review:
    # groupBy treats NULL fingerprints as equal, so a corpus with 10k
    # NULL-text rows would keep exactly one) — give each a per-row
    # unique surrogate so every poison row survives, the
    # dedup_lines_global convention
    fp = F.coalesce(
        fp, F.concat(F.lit("\0null:"), F.col(order_col).cast("string"))
    )
    with_fp = df.withColumn("_fp", fp)
    w = Window.partitionBy("_fp").orderBy(
        F.col(order_col).asc(), *_tiebreak(df, [order_col])
    )
    kept = (
        with_fp.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
    )
    return kept.select(*df.columns)


# ---------------------------------------------------------------------------
# MinHash + LSH fuzzy dedup
# ---------------------------------------------------------------------------


# Allowlist of logical nodes KNOWN to be narrow scan-chain work (ADVICE
# r4: the old wide-node denylist was closed-world — an unlisted node like
# Intersect/CoGroup, or any future Spark node name, fell through to the
# df.rdd materialization path the guard exists to avoid). Anything not on
# this list skips the repartition, which fails safe in both cost and
# behavior.
_NARROW_NODES = (
    "Relation",
    "LogicalRelation",
    "LocalRelation",
    "Project",
    "Filter",
    "SubqueryAlias",
    "View",
    "Generate",
    "ResolvedHint",
    "UnresolvedHint",
)


def _fanout_narrow_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Signature computation is CPU-dense scan-stage work; a narrow input
    (one small parquet file → ONE split) would serialize it on a single
    core. When the plan is a pure scan chain with fewer than half the
    cluster's cores in partitions, shuffle the raw rows out to
    defaultParallelism first (measured at sf0.1/local[32]: q6 2.48 s →
    1.77 s from this alone). At real scale file splits already exceed core
    count and this is a no-op.

    The check is analysis-only: any plan that is not PROVABLY a pure
    narrow scan chain (every node on the _NARROW_NODES allowlist) is
    skipped BEFORE touching df.rdd, because under AQE materializing the
    RDD of a shuffle-rooted plan executes its upstream stages (measured:
    one full job) — and a post-shuffle input is already partitioned to
    cluster width anyway. The plan string comes from a private accessor
    (_jdf); if its formatting ever shifts so nodes stop matching, the
    allowlist makes that drift a silent no-op, not a regression."""
    import re

    if df.isStreaming:
        return df
    plan = df._jdf.queryExecution().analyzed().toString()
    nodes = {
        m.group(1)
        for m in (re.match(r"^[\s:+-]*'?(\w+)", ln) for ln in plan.splitlines())
        if m
    }
    if not nodes or not nodes <= set(_NARROW_NODES):
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() * 2 <= sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, key_col)
    return df


def _cap_collected_buckets(
    agg: DataFrame, arr_col: str, max_bucket: int, on_capped: str, what: str
) -> DataFrame:
    """Apply the LSH bucket cap with the observability policy (VERDICT
    r8 #8): on_capped='allow' keeps the documented capped-recall
    contract — oversize (degenerate mass-duplicate) buckets drop whole,
    silently; on_capped='error' makes any cap hit FAIL THE TASK via an
    in-plan assert_true riding the consumed bucket array (the temporal
    loud-guard pattern), so a caller can PROVE no candidates were lost
    to the cap at their scale instead of trusting the contract."""
    if on_capped not in ("allow", "error"):
        raise ValueError(
            f"on_capped must be 'allow' or 'error' (got {on_capped!r})"
        )
    if on_capped == "error":
        ok = F.assert_true(
            F.size(F.col(arr_col)) <= max_bucket,
            F.concat(
                F.lit(f"{what}: LSH bucket of size "),
                F.size(F.col(arr_col)).cast("string"),
                F.lit(
                    f" exceeds max_bucket={max_bucket} — its candidate "
                    "pairs would be dropped by the recall cap; raise "
                    "max_bucket (or pass None), run exact dedup first so "
                    "mass duplicates collapse, or accept the cap with "
                    "on_capped='allow'"
                ),
            ),
        )
        # the guard must ride the CONSUMED column or Catalyst prunes it
        agg = agg.withColumn(arr_col, F.when(ok.isNull(), F.col(arr_col)))
    return agg.filter(
        (F.size(F.col(arr_col)) >= 2) & (F.size(F.col(arr_col)) <= max_bucket)
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_words: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.8,
    max_bucket: int = 1000,
    eager: bool = False,
    norm_col: Optional[str] = None,
    on_capped: str = "allow",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    `norm_col` names an already-normalized projection of `text_col`
    (pipelines that materialized normalize_text pass it so shingling
    skips the normalization regex — output identical; see
    functions/text.word_shingles_normed).

    Pipeline: shingle → minhash(num_hashes) → bands band-keys → explode →
    bucket-grouped i<j pair expansion (one exchange; see inline note) →
    exact Jaccard verification on shingle sets. Default geometry is b=8,
    r=2 (16 lanes): the S-curve crosses at
    (1/8)^(1/2) ≈ 0.35, so per-pair candidate recall at j = 0.8 is
    1-(1-0.8²)⁸ ≈ 0.9997 (r=4's was 0.985) while signature cost halves
    (r4 A/B at sf0.1: 2.48 s → 1.55 s end-to-end with IDENTICAL verified
    pairs). The tradeoff is more mid-similarity candidates reaching exact
    verification (j = 0.3 pairs hit a band with p ≈ 0.5 vs 0.06 at r=4);
    verification stays correct — it's pure cost — and degenerate
    boilerplate buckets remain capped by `max_bucket`. Corpora with heavy
    mid-similarity mass can pass num_hashes=32, bands=8 to get the old
    r=4 curve.

    `on_capped` controls cap observability (VERDICT r8 #8): 'allow'
    (default) keeps the documented capped-recall contract — a bucket
    past `max_bucket` drops whole, silently; 'error' fails the task via
    an in-plan assert the moment any bucket exceeds the cap, turning
    "trust the contract" into "proved no candidates were lost".

    `eager=True` materializes the (small) pair list immediately
    (localCheckpoint) and releases the cached shingle sets — use it when
    the pairs will be consumed more than once or much later; the default
    lazy mode leaves the cache pinned until the session evicts it.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}) "
            "— trailing signature lanes would be silently ignored"
        )
    rows = num_hashes // bands
    sh = (
        X.word_shingles_normed(F.col(norm_col), shingle_words)
        if norm_col is not None
        else X.word_shingles(F.col(text_col), shingle_words)
    )
    df = _fanout_narrow_scan(df, id_col)
    base = df.select(
        F.col(id_col).alias("_id"),
        sh.alias("_shingles"),
    ).filter(F.size("_shingles") > 0)
    # shingle sets are reused twice (signature input and verification) —
    # keep them in memory instead of recomputing the scan+shingling
    base = base.persist()

    # Signatures via explode + codegen MIN aggregates (the simhash_signatures
    # move applied to minhash): each shingle hashes once, the 16 lane mins
    # aggregate with map-side partials in whole-stage codegen — bit-identical
    # to hashing.minhash_signature (pinned in tests) and 26% faster at sf0.1
    # than the interpreted per-shingle zip_with fold. One doc-keyed exchange
    # of (num_hashes+1)-long partial rows; shingle arrays stay where they
    # were computed.
    hashed = base.select("_id", F.explode("_shingles").alias("_s")).select(
        "_id", F.xxhash64("_s").alias("_h")
    )
    # F.expr strings, not Column chains: building these lanes as
    # F.min(F.xxhash64(F.lit(i), col)).alias(...) costs ~5 py4j round
    # trips per lane; on a fresh plan per run (the bench contract) the
    # constructor chatter is real wall time. Identical expressions —
    # integer SQL literals type as INT exactly like F.lit(i) — and the
    # signature values stay pinned bit-identical in tests.
    sigs = hashed.groupBy("_id").agg(
        *[
            F.expr(f"min(xxhash64({i}, _h)) AS _m{i}")
            for i in range(num_hashes)
        ]
    )
    # band rows carry ONLY (id, band, key): candidate generation must never
    # shuffle shingle arrays (at corpus scale those are the bulk of bytes).
    # One parsed expr over the lane columns (minhash_bands_sql) — the
    # Column band builder cost ~120 ms of py4j chatter per fresh plan.
    banded = sigs.select(
        "_id",
        F.explode(F.expr(H.minhash_bands_sql(
            [f"_m{i}" for i in range(num_hashes)], bands, rows
        ))).alias("_b"),
    ).select("_id", F.col("_b.band").alias("_band"), F.col("_b.key").alias("_key"))

    # Candidate generation: ONE exchange — collect each (band, key) bucket's
    # id list and expand i<j pairs with scan-stage HOFs over the sorted
    # array. Replaces the former self-equi-join (the banded subtree built
    # twice + two window sorts for the bucket cap): measured at sf0.1 this
    # is 33% faster with identical pairs, and at scale it removes a full
    # re-exploding of the signature stream. The bucket cap filters on the
    # collected size — same drop-the-whole-bucket semantics as the old
    # window count. Memory envelope: a degenerate bucket materializes its
    # id array in one aggregation buffer BEFORE the size filter (8 B/id —
    # a 10M-duplicate boilerplate bucket is a transient 80 MB, survivable;
    # run dedup_exact first, as operators/pipeline.curate does, so exact
    # duplicates collapse to one row and cannot form such buckets).
    if max_bucket is None:
        max_bucket = 1 << 31
    grouped = _cap_collected_buckets(
        banded.groupBy("_band", "_key").agg(
            F.sort_array(F.collect_list("_id")).alias("_ids")
        ),
        "_ids",
        max_bucket,
        on_capped,
        "minhash_candidate_pairs",
    )
    n = F.size(F.col("_ids"))
    pair_array = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("_ids"), i + 1, n - i),
                lambda x: F.struct(
                    F.element_at(F.col("_ids"), i).alias("id_a"),
                    x.alias("id_b"),
                ),
            ),
        )
    )
    cand = (
        grouped.select(F.explode(pair_array).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .distinct()  # same pair can share several bands
    )

    # verification: attach shingle sets to the (small) candidate set only.
    # The intersection is STAGED in its own projection (r14 optimization
    # round, guide §1.2): `filter(jaccard >= t)` over a live H.jaccard
    # projection lets predicate pushdown substitute the full expression
    # into the Filter — with `inter` appearing three times in the jaccard
    # formula, each surviving candidate paid SIX array_intersect
    # hash-set builds over its shingle arrays (three in the pushed
    # Filter, three in the Project). Staging (_i, _n) first leaves one
    # intersect in the pushed Filter and one in the projection; the
    # arithmetic ((sa+sb)−i, integer-exact) and the union==0 guard are
    # unchanged, so every jaccard value is bit-identical (pinned by the
    # existing pair goldens).
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_shingles").alias("_sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_shingles").alias("_sh_b"))
    staged = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sh_a", "_sh_b")).alias("_i"),
            (F.size("_sh_a") + F.size("_sh_b")).alias("_n"),
        )
    )
    _union = F.col("_n") - F.col("_i")
    _jac = F.when(_union == 0, F.lit(0.0)).otherwise(
        F.col("_i").cast("double") / _union.cast("double")
    )
    pairs = staged.select("id_a", "id_b", _jac.alias("jaccard")).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    if eager:
        pairs = pairs.localCheckpoint(eager=True)
        base.unpersist()
    return pairs


def dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    **kwargs,
) -> DataFrame:
    """Remove near-duplicates: keeps a row unless it appears as the larger
    id of a qualifying pair (single-link, one pass — not full connected
    components; A~B, B~C with A≁C keeps A and C, drops B: acceptable and
    standard for one-pass corpus dedup)."""
    kwargs.setdefault("eager", True)  # release the shingle cache
    pairs = minhash_candidate_pairs(df, id_col, text_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, [id_col], "left_anti")


# ---------------------------------------------------------------------------
# connected-components cluster dedup
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, max_iterations: int = 20, stats: Optional[dict] = None
) -> DataFrame:
    """Label every node in an undirected edge list (id_a, id_b) with the
    minimum id of its connected component → (id, component).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): converges in
    O(log² n) rounds even on adversarial chains (plain min-label
    propagation needs O(diameter)). Each half-step is one groupBy shuffle
    over the edge list; localCheckpoint truncates lineage so plans stay
    flat across iterations; a driver-side hash detects the fixpoint.

    - large-star: every neighbor v > u links to min(N(u) ∪ {u})
    - small-star: every neighbor v ≤ u (and u) links to that minimum

    Pass a dict as `stats` to receive {'iterations': rounds run,
    'converged': fixpoint reached before max_iterations, 'final_edges':
    star-edge count at the fixpoint} — the observability hook the 100×
    attestations read (an unconverged run is a correctness hazard:
    labels may not be component minima yet).
    """
    edges = (
        pairs.select(
            F.least("id_a", "id_b").alias("u"),
            F.greatest("id_a", "id_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhoods over the symmetrized edge set, grouped on the center
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        grouped = sym.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        m = F.array_min(F.array_union(F.col("nbrs"), F.array(F.col("u"))))
        if large:
            targets = F.filter(F.col("nbrs"), lambda x: x > F.col("u"))
        else:
            targets = F.array_union(
                F.filter(F.col("nbrs"), lambda x: x <= F.col("u")),
                F.array(F.col("u")),
            )
        return (
            grouped.select(F.explode(targets).alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_fingerprint = None
    converged = False
    rounds = 0
    for _ in range(max_iterations):
        edges = star(edges, large=True)
        edges = star(edges, large=False).localCheckpoint(eager=True)
        rounds += 1
        fp = (
            # bit_xor, not sum: a long sum overflows (throws under ANSI mode)
            edges.select(
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).first()
        )
        fingerprint = (fp.h, fp.n)
        if fingerprint == prev_fingerprint:
            converged = True
            break
        prev_fingerprint = fingerprint
    if stats is not None:
        stats["iterations"] = rounds
        stats["converged"] = converged
        stats["final_edges"] = prev_fingerprint[1] if prev_fingerprint else 0

    # after convergence every edge points a node at its component minimum
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        edges.select(F.col("v").alias("id"))
        .distinct()
        .join(members.select("id"), "id", "left_anti")
        .withColumn("component", F.col("id"))
    )
    return members.union(roots)


def dedup_clusters(
    df: DataFrame, id_col: str, pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Cluster-level dedup: group near-dup pairs into connected components
    and keep only the canonical (minimum-id) member of each component.
    Unlike one-pass dedup_minhash, A~B~C collapses to one survivor."""
    comp = connected_components(pairs, max_iterations)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, [id_col], "left_anti")


def dedup_clusters_keep_best(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    keep_by: str,
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster-level dedup keeping the BEST member of each near-dup family
    — highest `keep_by` (quality score, token count, recency…), id
    ascending on ties — instead of dedup_clusters' arbitrary minimum id.
    This is the curation-correct form: when a document exists in several
    variants, a pipeline wants the highest-quality copy to survive, not
    whichever one happens to carry the smallest id.

    Scale: connected components over the PAIRS (edge list — never the
    corpus), then one component-keyed max_by aggregation over only the
    clustered rows (a broadcast-sized join against the assignment table),
    and one left-anti join back. Unclustered rows never enter any wide
    operation beyond the anti-join probe."""
    comp = connected_components(pairs, max_iterations)
    scored = df.select(
        F.col(id_col).alias("id"), F.col(keep_by).alias("_kb")
    ).join(comp, "id")
    # winner per component = max keep_by, min id on ties, in two tiny
    # aggregations over the CLUSTERED rows only (max per component, then
    # min id among rows at the max) — type-agnostic, unlike a negated-id
    # max_by struct trick. eqNullSafe makes an all-NULL-quality component
    # degrade to plain min-id instead of keeping every member.
    # no forced broadcast: best_kb/winners carry ONE ROW PER COMPONENT,
    # which grows with the corpus's near-dup mass (tens of millions of
    # components at web scale would OOM a forced broadcast) — AQE picks
    # broadcast when they actually fit
    best_kb = scored.groupBy("component").agg(F.max("_kb").alias("_best"))
    winners = (
        scored.join(best_kb, "component")
        .filter(F.col("_kb").eqNullSafe(F.col("_best")))
        .groupBy("component")
        .agg(F.min("id").alias("_win"))
    )
    losers = (
        comp.join(winners.select("component", "_win"), "component")
        .filter(F.col("id") != F.col("_win"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, [id_col], "left_anti")


# ---------------------------------------------------------------------------
# SimHash fuzzy dedup
# ---------------------------------------------------------------------------


def _simhash_signatures_normed(normed: DataFrame) -> DataFrame:
    """Signature kernel over a pre-normalized (_id, _nt) relation —
    shared by simhash_signatures and simhash_candidate_pairs so the
    normalization regex runs exactly ONCE per document (the blank filter
    and the tokenizer used to each run their own normalize_text pass —
    two regex scans of every document, measured ~15% of the stage).

    PACKED bit counters (r6): lane k of 32 sums bits k and k+32 of the
    token hash in the two 32-bit halves of one long — addend =
    (h >>> k) & 0x0000000100000001, ONE shift + ONE mask per lane
    instead of two, and half the aggregation-buffer updates of the
    64-sum form (measured 1.68 → 1.40 s at sf0.1, bit-identical). A
    32-bit half overflows only past 2^31 tokens in one document —
    not a real document. The sign rule is unchanged: bit k set iff
    2·count_set(k) > n_tokens.

    The 64 sign decisions then run over POSEXPLODED lanes (32 tiny rows
    per doc) with ONE generic 10-node expression and re-aggregate by
    summing disjoint bit contributions — NOT as a 64-term CASE chain in
    a single projection. The chain form built a ~400-node Catalyst tree
    whose per-query optimize+codegen cost was ~1.0 s of pure DRIVER time
    on every freshly-built plan (measured; execution itself was ~0.5 s).
    The lane re-aggregation reuses the first aggregate's hash
    partitioning, so the physical plan still has exactly ONE exchange —
    fresh-plan wall time 1.5 → 0.7 s at sf0.1, bit-identical output."""
    toks = normed.select(
        "_id", F.explode(F.split(F.col("_nt"), " ")).alias("_t")
    )
    h = toks.select("_id", F.xxhash64("_t").alias("_h"))
    _MASK = 0x0000000100000001
    sums = h.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("_h"), k).bitwiseAND(F.lit(_MASK))
            ).alias(f"_p{k}")
            for k in range(32)
        ],
    )
    lanes = sums.select(
        "_id",
        "_n",
        F.posexplode(
            F.array(*[F.col(f"_p{k}") for k in range(32)])
        ).alias("_k", "_p"),
    )
    # bit k (low half) and bit k+32 (high half) of the signature; summing
    # disjoint single-bit contributions reconstructs the long exactly
    # (shiftleft(1L, 63) is min-long in two's complement — the sign bit)
    contrib = F.expr(
        "CASE WHEN 2 * (_p & 4294967295) - _n > 0 "
        "THEN shiftleft(1L, _k) ELSE 0L END + "
        "CASE WHEN 2 * shiftrightunsigned(_p, 32) - _n > 0 "
        "THEN shiftleft(1L, _k + 32) ELSE 0L END"
    )
    return (
        lanes.select("_id", contrib.alias("_c"))
        .groupBy("_id")
        .agg(F.sum("_c").cast("long").alias("_sig"))
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(_id, _sig) simhash signatures via explode + packed codegen bit-sum
    aggregates — bit-identical to `hashing.simhash_signature` (pinned in
    tests) but ~2× faster end-to-end at sf0.1: the Column form folds an
    interpreted 64-lane higher-order zip_with per token (allocation churn,
    no codegen), while this shape normalizes and hashes each token once
    and lets whole-stage-codegen SUM 32 packed bit lanes with map-side
    partials (see _simhash_signatures_normed for the packing).

    Cost model at scale: one doc-keyed exchange carrying a 33-long partial
    row per (doc, partition) — the CPU saved on the token stream dominates
    at any corpus size.

    Content-free documents (blank or NULL text) are EXCLUDED from the
    output (r8 review): the explode pipeline silently dropped NULL text
    while giving every blank doc one shared constant signature — feeding
    that to signature_candidate_pairs (documented to accept any
    (_id, _sig) relation) would pair every blank doc with every other.
    The module invariant is that content-free docs never match; callers
    needing per-row signatures including NULLs use the Column form
    `hashing.simhash_signature` (values bit-identical for non-empty
    docs, pinned in tests)."""
    normed = df.select(
        F.col(id_col).alias("_id"),
        X.normalize_text(F.col(text_col)).alias("_nt"),
    ).filter(F.length("_nt") > 0)
    return _simhash_signatures_normed(normed)


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int = 1000,
    on_capped: str = "allow",
) -> DataFrame:
    """Near-dup pairs by simhash: two docs within hamming distance
    < `chunks` share at least one bit-slice (pigeonhole), so blocking on
    `chunks` slices finds all pairs with distance <= chunks-1.

    Capped-recall contract (ADVICE r6): with a finite `max_bucket`, a
    pair is found only if its EARLIEST shared bit-slice lands in a
    surviving (un-capped) bucket — see signature_candidate_pairs for the
    full statement. Pass max_bucket=None for the uncapped exact-recall
    guarantee (at the cost of unbounded bucket expansion on degenerate
    mass-duplicate slices), or on_capped='error' to fail loudly on any
    cap hit (VERDICT r8 #8)."""
    # blank/NULL docs never pair: tokens('') is [''] and every content-free
    # doc would otherwise share one constant signature and collide in every
    # bit-slice bucket (same guard contract as the minhash path). The
    # blank filter runs on the ONE normalized projection the signature
    # kernel consumes — not on its own normalize_text pass.
    df = _fanout_narrow_scan(df, id_col)
    normed = df.select(
        F.col(id_col).alias("_id"),
        X.normalize_text(F.col(text_col)).alias("_nt"),
    ).filter(F.length("_nt") > 0)
    base = _simhash_signatures_normed(normed)
    return signature_candidate_pairs(
        base, max_hamming=max_hamming, chunks=chunks, max_bucket=max_bucket,
        on_capped=on_capped,
    )


def signature_candidate_pairs(
    sigs: DataFrame,
    *,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int = 1000,
    on_capped: str = "allow",
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within `max_hamming` over ANY (_id,
    _sig) 64-bit-signature relation — the slicing/blocking/expansion
    kernel shared by simhash_candidate_pairs (text) and
    image_neardup_pairs (dHash): two signatures within hamming < chunks
    share at least one bit-slice (pigeonhole). `max_hamming` past that
    pigeonhole bound raises (r8 review: hamming >= chunks pairs can
    share NO slice, so the result would silently omit them — the same
    loud-geometry policy as minhash's num_hashes % bands check).

    Capped-recall contract (ADVICE r6): pairs are emitted from their
    FIRST shared bit-slice only (the shuffle-free single-emission plan),
    so with a finite `max_bucket` a pair whose first shared slice sits in
    a capped bucket is lost even when a later shared slice survives.
    Uncapped (max_bucket=None) recall is exact for hamming < chunks.
    Capped buckets hold degenerate near-identical mass duplicates that
    share (nearly) all slices, so the loss is confined to them.
    on_capped='error' makes any cap hit fail the task in-plan
    (VERDICT r8 #8) instead of silently dropping the bucket."""
    if max_hamming >= chunks:
        raise ValueError(
            f"max_hamming={max_hamming} >= chunks={chunks}: the pigeonhole "
            "blocking guarantee only covers hamming < chunks — pairs past "
            "it can share no bit-slice and would be silently lost; raise "
            "chunks (finer slices) or lower max_hamming"
        )
    sliced = sigs.select(
        "_id", "_sig", F.explode(H.simhash_chunks(F.col("_sig"), chunks)).alias("_c")
    ).select("_id", "_sig", F.col("_c.chunk").alias("_chunk"), F.col("_c.key").alias("_key"))

    # Same bucket-grouped pair expansion as the minhash path (one exchange,
    # see minhash_candidate_pairs): each bit-slice bucket collects its
    # (id, sig) structs — sigs are single longs, so unlike shingles they
    # are cheap to carry — and i<j pairs expand scan-stage from the
    # id-sorted array.
    #
    # SINGLE-EMISSION expansion (r6, VERDICT r5 #6): a qualifying pair
    # shares up to `chunks` bit-slices and used to be emitted once per
    # shared slice, paying a full dropDuplicates shuffle over ~chunks×
    # the unique pairs. Both sigs are IN the bucket structs, so "is this
    # bucket the pair's FIRST shared slice" is a scan-stage predicate:
    # emit in bucket c only when no slice i < c matches. Every pair then
    # leaves the expansion exactly once and the plan ends at the filter —
    # no pair-level shuffle at all.
    #
    # BEHAVIOR CHANGE vs r5 under capped buckets (recall, not values): a
    # pair whose EARLIEST shared slice sits in a max_bucket-dropped
    # bucket is now lost even when a later shared slice survives; r5's
    # any-surviving-slice emission would have found it. "First shared
    # slice among SURVIVING buckets" needs bucket sizes, which a
    # scan-stage predicate cannot see — the shuffle-free plan buys this
    # narrower capped-recall contract. Uncapped (max_bucket=None) output
    # is exactly r5's, and at the driver SFs no bucket reaches the cap
    # (A/B value-checked identical at sf0.01 and sf0.1). Pairs in capped
    # buckets are degenerate near-identical mass duplicates that share
    # (nearly) all slices, so the practical loss is confined to them.
    if max_bucket is None:
        max_bucket = 1 << 31
    grouped = _cap_collected_buckets(
        sliced.groupBy("_chunk", "_key").agg(
            F.sort_array(F.collect_list(F.struct("_id", "_sig"))).alias("_xs")
        ),
        "_xs",
        max_bucket,
        on_capped,
        "signature_candidate_pairs",
    )
    width = 64 // chunks
    mask = (1 << width) - 1

    def _slice(sig, i: int):
        return F.shiftrightunsigned(sig, i * width).bitwiseAND(F.lit(mask))

    def _is_first_shared(sig_a, sig_b):
        # no slice EARLIER than this bucket's chunk index also matches
        cond = F.lit(True)
        for i in range(chunks - 1):
            earlier_match = (F.lit(i) < F.col("_chunk")) & (
                _slice(sig_a, i) == _slice(sig_b, i)
            )
            cond = cond & ~earlier_match
        return cond

    n = F.size(F.col("_xs"))
    pair_array = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("_xs"), i + 1, n - i),
                lambda y: F.struct(
                    F.element_at(F.col("_xs"), i)["_id"].alias("id_a"),
                    y["_id"].alias("id_b"),
                    H.hamming64(
                        F.element_at(F.col("_xs"), i)["_sig"], y["_sig"]
                    ).alias("hamming"),
                    _is_first_shared(
                        F.element_at(F.col("_xs"), i)["_sig"], y["_sig"]
                    ).alias("first"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_array).alias("_p"))
        .filter(F.col("_p.first") & (F.col("_p.hamming") <= max_hamming))
        .select(F.col("_p.id_a"), F.col("_p.id_b"), F.col("_p.hamming"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for evaluation / small blocks)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    block_col: Optional[str] = None,
    allow_crossjoin: bool = False,
) -> DataFrame:
    """Exact word-n-gram Jaccard over all pairs within `block_col` blocks.

    A block column is REQUIRED at scale — without one the join is a full
    O(n²) cross product, which is an evaluation tool only and must be opted
    into with `allow_crossjoin=True` (calling with neither raises)."""
    if block_col is None and not allow_crossjoin:
        raise ValueError(
            "ngram_jaccard_pairs without `block_col` is an O(n²) cross join; "
            "pass a blocking column (e.g. an LSH band or simhash slice) for "
            "the scale path or opt in explicitly with allow_crossjoin=True"
        )
    base = df.select(
        F.col(id_col).alias("_id"),
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
        X.word_shingles(F.col(text_col), n).alias("_sh"),
    )
    on = ["_blk"] if block_col else []
    left = base.select(*on, F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    right = base.select(*on, F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    joined = left.join(right, on) if on else left.crossJoin(right)
    # staged intersection — same shape (and bit-identity argument) as the
    # minhash verification tail above: one array_intersect in the pushed
    # Filter and one in the projection, instead of three in each
    staged = joined.filter(F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("_sh_a", "_sh_b")).alias("_i"),
        (F.size("_sh_a") + F.size("_sh_b")).alias("_n"),
    )
    _union = F.col("_n") - F.col("_i")
    _jac = F.when(_union == 0, F.lit(0.0)).otherwise(
        F.col("_i").cast("double") / _union.cast("double")
    )
    return staged.select("id_a", "id_b", _jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# incremental dedup against an indexed corpus
# ---------------------------------------------------------------------------


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_words: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Persistable LSH index of a corpus: (_band, _key, _id, _sig) — one row
    per (doc, band). The production shape for INCREMENTAL dedup: build (or
    append to) the index once, then probe each incoming batch against it
    without re-reading corpus text. Storage is `bands` rows of
    (2 longs + id + the 16-long signature) per doc — no shingle sets, so
    the index is orders of magnitude smaller than the text.

    Write it partitioned/bucketed by `_band, _key` (`sources.write_bucketed`)
    and the per-batch probe join needs no corpus-side shuffle at all."""
    rows = num_hashes // bands
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    sh = X.word_shingles(F.col(text_col), shingle_words)
    df = _fanout_narrow_scan(df, id_col)
    base = (
        df.select(F.col(id_col).alias("_id"), sh.alias("_shingles"))
        .filter(F.size("_shingles") > 0)
        .withColumn("_sig", H.minhash_signature(F.col("_shingles"), num_hashes))
        .drop("_shingles")
    )
    return base.select(
        "_id",
        "_sig",
        F.explode(H.minhash_bands(F.col("_sig"), bands, rows)).alias("_b"),
    ).select(
        F.col("_b.band").alias("_band"),
        F.col("_b.key").alias("_key"),
        "_id",
        "_sig",
    )


def _cap_buckets(
    df: DataFrame,
    keys: list,
    max_bucket: int,
    on_capped: str = "allow",
    what: str = "dedup index",
) -> DataFrame:
    """Drop every row of a bucket whose size exceeds `max_bucket` — the
    shared probe/index capping step of both incremental dedup paths (a
    capped-out bucket is boilerplate, not a near-dup signal, on either
    join side). on_capped='error' applies the same observability policy
    as _cap_collected_buckets (VERDICT r8 #8): any cap hit fails the
    task in-plan instead of silently losing the bucket's matches."""
    if on_capped not in ("allow", "error"):
        raise ValueError(
            f"on_capped must be 'allow' or 'error' (got {on_capped!r})"
        )
    w = Window.partitionBy(*keys)
    df = df.withColumn("_n", F.count("*").over(w))
    if on_capped == "error":
        ok = F.assert_true(
            F.col("_n") <= max_bucket,
            F.concat(
                F.lit(f"{what}: bucket of size "),
                F.col("_n").cast("string"),
                F.lit(
                    f" exceeds max_bucket={max_bucket} — its matches "
                    "would be dropped by the recall cap; raise "
                    "max_bucket (or pass None), collapse mass "
                    "duplicates with exact dedup first, or accept the "
                    "cap with on_capped='allow'"
                ),
            ),
        )
        # ride the CONSUMED filter column or Catalyst prunes the guard
        df = df.withColumn("_n", F.when(ok.isNull(), F.col("_n")))
    return df.filter(F.col("_n") <= max_bucket).drop("_n")


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_words: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    est_threshold: float = 0.5,
    max_bucket: int = 1000,
    on_capped: str = "allow",
) -> DataFrame:
    """Drop rows of `new_docs` that near-duplicate a document in the
    indexed corpus (same signature geometry as `build_minhash_index`).

    Verification is the ESTIMATED Jaccard — the fraction of matching
    signature lanes — because the index deliberately stores no shingle
    sets; the estimator's stderr is ~sqrt(j(1-j)/16) ≈ 0.12 at j=0.5, so
    `est_threshold` is a soft boundary (exact-dup j=1 always matches all
    lanes; the planted-truth suite entry pins the behavior
    deterministically). This is the standard contract for streaming/
    incremental web dedup, where the corpus text is long gone.

    Scale: batch docs shingle+sign in their scan stage; the probe is one
    equi-join on (_band, _key) against the (ideally bucketed) index; only
    (batch_id, est) pairs reach the final aggregation. Corpus text is
    never touched. `max_bucket` caps BOTH join sides (ADVICE r4): a
    degenerate boilerplate bucket stored in the corpus index would
    otherwise fan the join out unboundedly no matter how clean the batch
    is — a capped-out bucket is boilerplate, not a near-dup signal, on
    either side."""
    probe = build_minhash_index(
        new_docs,
        id_col,
        text_col,
        shingle_words=shingle_words,
        num_hashes=num_hashes,
        bands=bands,
    ).select(
        "_band",
        "_key",
        F.col("_id").alias("_new_id"),
        F.col("_sig").alias("_new_sig"),
    )
    if max_bucket is not None:
        probe = _cap_buckets(
            probe, ["_band", "_key"], max_bucket, on_capped,
            "dedup_against_index (probe)",
        )
        index = _cap_buckets(
            index, ["_band", "_key"], max_bucket, on_capped,
            "dedup_against_index (index)",
        )
    matches = probe.join(index, ["_band", "_key"]).withColumn(
        "_est",
        F.size(
            F.filter(
                F.zip_with(
                    F.col("_new_sig"), F.col("_sig"), lambda a, b: a == b
                ),
                lambda x: x,
            )
        ).cast("double")
        / F.lit(float(num_hashes)),
    )
    losers = (
        matches.filter(F.col("_est") >= est_threshold)
        .select(F.col("_new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(losers, [id_col], "left_anti")


def build_simhash_index(
    df: DataFrame, id_col: str, text_col: str, *, chunks: int = 4
) -> DataFrame:
    """Persistable SimHash index of a corpus: (_chunk, _key, _id, _sig) —
    one row per (doc, bit-slice), the simhash twin of build_minhash_index
    for the incremental/streaming dedup contract. Storage per doc is
    `chunks` rows of (int, long, id, long) — ONE 8-byte signature instead
    of minhash's 16-lane array, so this is the cheapest durable near-dup
    index the engine ships; the trade is simhash's coarser similarity
    notion (hamming distance over token-set bits, no Jaccard estimate).

    Write it bucketed by `_chunk, _key` (sources.write_bucketed) and the
    per-batch probe join needs no corpus-side shuffle at all."""
    normed = df.select(
        F.col(id_col).alias("_id"),
        X.normalize_text(F.col(text_col)).alias("_nt"),
    ).filter(F.length("_nt") > 0)
    sigs = _simhash_signatures_normed(normed)
    return sigs.select(
        "_id",
        "_sig",
        F.explode(H.simhash_chunks(F.col("_sig"), chunks)).alias("_c"),
    ).select(
        F.col("_c.chunk").alias("_chunk"),
        F.col("_c.key").alias("_key"),
        "_id",
        "_sig",
    )


def dedup_against_simhash_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunks: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    on_capped: str = "allow",
) -> DataFrame:
    """Drop rows of `new_docs` whose simhash is within `max_hamming` bits
    of an indexed corpus document (same slice geometry as
    build_simhash_index; pigeonhole guarantees a shared slice for any
    pair within hamming < chunks).

    Verification is exact hamming on the two stored signatures — unlike
    the minhash index's lane-match ESTIMATE, the simhash index carries
    the full signature in every row, so the probe's accept/reject is
    deterministic, not statistical. Scale contract mirrors
    dedup_against_index: batch docs sign in their scan stage, the probe
    is one (_chunk, _key) equi-join against the (ideally bucketed)
    index, corpus text is never touched, and `max_bucket` caps BOTH join
    sides (a capped-out slice bucket is boilerplate, not signal)."""
    probe = build_simhash_index(
        new_docs, id_col, text_col, chunks=chunks
    ).select(
        "_chunk",
        "_key",
        F.col("_id").alias("_new_id"),
        F.col("_sig").alias("_new_sig"),
    )
    if max_bucket is not None:
        probe = _cap_buckets(
            probe, ["_chunk", "_key"], max_bucket, on_capped,
            "dedup_against_simhash_index (probe)",
        )
        index = _cap_buckets(
            index, ["_chunk", "_key"], max_bucket, on_capped,
            "dedup_against_simhash_index (index)",
        )
    losers = (
        probe.join(index, ["_chunk", "_key"])
        .filter(
            H.hamming64(F.col("_new_sig"), F.col("_sig")) <= max_hamming
        )
        .select(F.col("_new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(losers, [id_col], "left_anti")


# ---------------------------------------------------------------------------
# sub-document (chunk-level) dedup
# ---------------------------------------------------------------------------


def dedup_subdocument(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
) -> DataFrame:
    """Deduplicate at SUB-document granularity: split every document into
    fixed-size token chunks, keep each distinct chunk's globally-first
    occurrence, and reassemble documents from their surviving chunks — the
    repeated-passage removal step of a pre-training pipeline (boilerplate
    headers, licence blocks, and syndicated paragraphs recur across
    documents that whole-document dedup can never drop).

    Semantics (deterministic to the row):
    - chunks are non-overlapping (`overlap=0`), so reassembly by
      `chunk_idx` reproduces the original token stream exactly when
      nothing is dropped;
    - a chunk's winner is the smallest `(id_col, chunk_idx)` among all
      rows with the same chunk fingerprint (md5 of the chunk text);
    - output keeps one row per document that retains ≥1 chunk (a document
      whose every chunk already appeared earlier vanishes — the sub-document
      generalization of exact dedup dropping a later full duplicate), with
      `text_dedup` (surviving chunks joined in order), `n_chunks_kept`,
      and `n_chunks_total`.

    100 TB design: chunking + fingerprinting are scan-stage HOFs (no
    shuffle); winner election is ONE exchange on the chunk fingerprint
    (row_number window — fingerprints are md5, uniform, so no skew beyond
    genuine boilerplate, the same hot-key profile exact dedup has);
    reassembly is ONE exchange back on the document id with map-side
    partial collect. Nothing is quadratic, no driver materialization.
    """
    chunks = df.select(
        F.col(id_col),
        F.posexplode(
            X.chunk_array(F.col(text_col), chunk_tokens, 0)
        ).alias("chunk_idx", "chunk_text"),
    ).withColumn("_fp", F.md5(F.col("chunk_text")))
    w = Window.partitionBy("_fp").orderBy(
        F.col(id_col).asc(), F.col("chunk_idx").asc()
    )
    n_w = Window.partitionBy(id_col)
    ranked = chunks.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n_total", F.count(F.lit(1)).over(n_w)
    )
    kept = ranked.filter(F.col("_rn") == 1)
    out = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_chunks_kept"),
        F.first("_n_total").alias("n_chunks_total"),
    )
    return out


# ---------------------------------------------------------------------------
# Bloom-prefiltered blocklist dedup
# ---------------------------------------------------------------------------


class BloomFilter:
    """Broadcast-size Bloom filter over md5-hex keys (Kirsch-Mitzenmacher
    double hashing: index_i = (h1 + i·h2) mod n_bits with h1/h2 the two
    64-bit halves of the md5 — k indices from one hash computation,
    deterministic across engines and sessions).

    NO false negatives ever; false-positive rate ≈ (1 − e^(−k·n/m))^k is a
    pure cost knob here (see `dedup_against_blocklist` — membership is
    always re-confirmed exactly), so sizing is about join traffic, not
    correctness."""

    def __init__(self, bits, n_bits: int, k: int):
        import numpy as np

        self.bits = np.asarray(bits, dtype=np.uint8)
        self.n_bits = int(n_bits)
        self.k = int(k)

    @staticmethod
    def _indices(md5_hex, n_bits: int, k: int):
        """(len(md5_hex), k) int64 bit positions for a sequence of md5 hex
        strings — vectorized numpy, shared by build and probe."""
        import numpy as np

        h1 = np.array(
            [int(s[:16], 16) for s in md5_hex], dtype=np.uint64
        )
        h2 = np.array(
            [int(s[16:32], 16) for s in md5_hex], dtype=np.uint64
        )
        i = np.arange(k, dtype=np.uint64)
        # uint64 wrap-around is mod-2^64 arithmetic — fine under the final
        # mod n_bits because n_bits is a power of two
        return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(n_bits)).astype(
            np.int64
        )

    def contains(self, md5_hex):
        """Vectorized membership probe: bool ndarray (no false negatives).
        None keys (e.g. the NULL fingerprint of a NULL document) probe
        False — a NULL can never equal a blocklist fingerprint, so "not in
        bloom" is the semantically exact answer, and the exact-confirm
        join downstream agrees (NULL join keys never match)."""
        import numpy as np

        if len(md5_hex) == 0:
            return np.zeros(0, dtype=bool)
        out = np.zeros(len(md5_hex), dtype=bool)
        valid = [i for i, s in enumerate(md5_hex) if s is not None]
        if not valid:
            return out
        idx = self._indices(
            [md5_hex[i] for i in valid], self.n_bits, self.k
        )
        bit = self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)
        out[valid] = (bit & 1).all(axis=1)
        return out


def build_bloom_filter(
    keys: DataFrame, key_col: str, n_bits: int = 1 << 23, k: int = 4
) -> BloomFilter:
    """Build a Bloom filter over a key column of md5-hex strings.

    EAGER (documented index-build step, same contract as the IVF centroid
    build in similarity.py): per-partition bitmaps are OR-reduced
    executor-side via treeReduce, so the driver receives exactly ONE
    n_bits/8-byte array no matter how many partitions the blocklist has —
    the legitimate mapPartitions case (per-partition imperative bit math
    numpy does 3 orders of magnitude faster than per-row anything).

    n_bits must be a power of two (the double-hash mod). Default 2^23 bits
    = 1 MiB; at 1 % target FP rate a bitmap sized m ≈ 10·n holds n keys,
    so a billion-key blocklist needs ~1.2 GiB — still broadcastable, vs a
    billion-row join-side shuffle."""
    import numpy as np

    if n_bits <= 0 or n_bits & (n_bits - 1):
        raise ValueError(f"n_bits must be a power of two (got {n_bits})")
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    n_bytes = n_bits // 8

    def _partition_bitmap(rows):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        hexes = [r[0] for r in rows if r[0] is not None]
        if hexes:
            idx = BloomFilter._indices(hexes, n_bits, k).ravel()
            np.bitwise_or.at(bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8))
        yield bits

    rdd = keys.select(key_col).rdd.mapPartitions(_partition_bitmap)
    merged = rdd.treeReduce(np.bitwise_or)
    return BloomFilter(merged, n_bits, k)


def bloom_probe_udf(df: DataFrame, bloom: BloomFilter):
    """Arrow-batched membership probe column for a BloomFilter: broadcasts
    the bitmap once and returns a `boolean` pandas_udf usable in batch AND
    streaming plans (the closure is self-contained — worker-safe)."""
    sc = df.sparkSession.sparkContext
    b_bloom = sc.broadcast((bytes(bloom.bits), bloom.n_bits, bloom.k))

    @F.pandas_udf("boolean")
    def _maybe(fp: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        raw, n_bits_, k_ = b_bloom.value
        bf = BloomFilter(np.frombuffer(raw, dtype=np.uint8), n_bits_, k_)
        return pd.Series(bf.contains(fp.tolist()), index=fp.index)

    return _maybe


def dedup_against_blocklist(
    docs: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fingerprint",
    n_bits: int = 1 << 23,
    k: int = 4,
) -> DataFrame:
    """Drop documents whose normalized-text fingerprint appears in a
    blocklist (prior-ingest fingerprints, benchmark/contamination lists,
    takedown lists) — EXACT anti-join semantics at a fraction of the
    anti-join's cost.

    Two-stage: (1) a broadcast Bloom filter over the blocklist probes every
    document SCAN-STAGE (Arrow-batched pandas_udf over the md5 the plan
    already computes) — documents the filter rejects are DEFINITIVELY clean
    (no false negatives) and never reach a shuffle; (2) only the "maybe"
    fraction (true hits + the FP rate) is re-confirmed by an exact
    left-anti join, so false positives are never wrongly dropped. Result ≡
    `docs ANTI JOIN blocklist ON fingerprint` row-for-row, which is exactly
    what the paired oracle asserts.

    100 TB design: the corpus never shuffles — stage (1) is scan-stage, and
    stage (2)'s join probe side is hit-rate-sized, not corpus-sized (at a
    1 % FP rate and a 1 % true-hit rate, join traffic drops 50×). The
    bitmap build is the only eager step (one treeReduce over the blocklist,
    driver holds one n_bits/8-byte array — see build_bloom_filter)."""
    bloom = build_bloom_filter(blocklist, fp_col, n_bits=n_bits, k=k)
    _maybe = bloom_probe_udf(docs, bloom)
    with_fp = docs.withColumn("_fp", X.fingerprint(F.col(text_col)))
    flagged = with_fp.withColumn("_maybe", _maybe(F.col("_fp")))
    clean = flagged.filter(~F.col("_maybe"))
    confirm = flagged.filter(F.col("_maybe")).join(
        blocklist.select(F.col(fp_col).alias("_fp")).distinct(),
        "_fp",
        "left_anti",
    )
    return clean.unionByName(confirm).drop("_fp", "_maybe")


def cluster_size_histogram(
    assignments: DataFrame, cluster_col: str = "component"
) -> DataFrame:
    """(cluster_size, n_clusters) histogram of a cluster assignment — the
    dedup REPORT: how much of the corpus sits in near-dup families of
    size 2, 3, …, and how heavy is the heaviest family (the number that
    decides whether cluster dedup is worth its connected-components
    passes on a given source).

    Two exchanges, both with map-side partials: cluster sizes, then the
    size histogram — state is one counter per distinct size, never a
    per-cluster member list."""
    sizes = assignments.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


# ---------------------------------------------------------------------------
# exact substring-span dedup (token n-gram granularity)
# ---------------------------------------------------------------------------


def _gram_positions(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, gram_key) for every token n-gram position (one row per
    position — repeats kept): grams are built scan-stage from the token
    array and immediately replaced by their md5 (32-byte engine-neutral
    keys shuffle instead of long gram strings — the ngram_novelty
    contract). No position index: neither consumer reads one, and it
    would ride the widest exchange of the pipeline for nothing. Docs
    shorter than n tokens yield zero rows (sequence(1, 0) is DESCENDING
    in Spark, so the short-doc branch must be guarded, not clamped)."""
    if n <= 0:
        raise ValueError(f"n must be positive (got {n})")

    def mk(toks):
        # bind_once: the tokenizer runs once per row — inlining tokens()
        # into the lambda re-ran lower+regexp+split per POSITION
        # (quadratic; measured 3.8 s → 0.7 s at sf0.1, SCALE.md r7)
        sz = F.size(toks)
        return F.when(
            sz >= n,
            F.transform(
                F.sequence(F.lit(1), sz - n + 1),
                lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
            ),
        ).otherwise(F.array().cast("array<string>"))

    keys = X.bind_once(X.tokens(F.col(text_col)), mk)
    return df.select(
        F.col(id_col).alias("_id"), F.explode(keys).alias("_gk")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level exact substring-span dedup at token n-gram
    granularity — the span analogue of dedup_exact, after the
    exact-substring-dedup recipe of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), bounded to fixed-width
    token n-grams so it stays a pure DataFrame aggregation instead of a
    suffix-array build.

    Output: (gram_key, n_docs, n_occ) for spans appearing in ≥ min_docs
    distinct documents — the table you join against to strip or
    down-weight corpus-recurring passages.

    100 TB design: one wide exchange on the md5 gram key with map-side
    partial counts (count-distinct docs plans as a two-phase aggregate);
    no joins, no per-doc state. Hot boilerplate grams are exactly the
    rows this emits — skew lives in the OUTPUT, not the shuffle, because
    partial aggregation collapses each (partition, gram) to one row
    before the exchange."""
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1 (got {min_docs})")
    pos = _gram_positions(df, id_col, text_col, n)
    return (
        pos.groupBy(F.col("_gk").alias("gram_key"))
        .agg(
            F.count_distinct(F.col("_id")).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "gram_key",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_occ").cast("long").alias("n_occ"),
        )
    )


def span_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span exposure: how many of the document's
    n-gram positions carry a gram that also appears in ≥ min_docs − 1
    OTHER documents — the filtering signal built on duplicate_spans
    (docs with high dup_frac are assembled from corpus-recurring
    passages; standard curation drops or trims them).

    Output: (id, n_positions, n_dup_positions, dup_frac) for docs with
    ≥ n tokens.

    100 TB design (r7 re-plan — the simhash single-emission lesson
    applied to spans): raw positions NEVER shuffle and the md5 gram
    build runs ONCE. Positions collapse map-side to (gram, doc) counts
    (exchange 1 is partial-sized); a gram's doc-frequency is then just
    its ROW COUNT in that relation — one unordered window over the
    (g,d) rows (exchange 2), no join back to the position stream (the
    old plan's widest exchange) — and the per-doc rollup sums the
    counts (exchange 3, all three on the (g,d) relation, ≤ positions
    and far smaller on repetitive text). Boilerplate-gram skew lands on
    single window partitions of (g,d) rows, not on replicated position
    rows. Measured at sf0.1 (SCALE.md r7): join-back plan 7.9 s →
    (g,d) re-plan 4.2 s → +bind_once position build 1.2 s steady."""
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1 (got {min_docs})")
    from pyspark.sql import Window

    pos = _gram_positions(df, id_col, text_col, n)
    gd = pos.groupBy("_gk", "_id").agg(F.count(F.lit(1)).alias("_cnt"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("_gk"))
    gd = gd.withColumn("_dup", dfreq >= min_docs)
    return (
        gd.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.sum("_cnt").cast("long").alias("n_positions"),
            F.sum(F.when(F.col("_dup"), F.col("_cnt")).otherwise(0))
            .cast("long")
            .alias("n_dup_positions"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup_positions").cast("double")
            / F.col("n_positions").cast("double"),
        )
    )


# ---------------------------------------------------------------------------
# global line-level dedup (cross-document, keep-first, reassembling)
# ---------------------------------------------------------------------------


def dedup_lines_global(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    out_col: str = "text_ldedup",
) -> DataFrame:
    """Remove every duplicate LINE across the whole corpus, keeping only
    its first occurrence in (id, position) order, and reassemble each
    document from its surviving lines — the C4 cross-document span rule
    at line granularity (Raffel et al. 2020 §2.2 dedup step).

    Contract (mirrored by the suite oracle):
    - lines match on their TRIMMED content; kept lines are emitted
      verbatim (untrimmed) in original order
    - blank/whitespace-only lines are exempt (never dedup'd, always kept)
      — they are structure, not content
    - every input document survives, possibly with out_col = ''
    - adds n_lines / n_kept counts

    100 TB design: exactly two exchanges — one window keyed on the line
    fingerprint (blank lines get per-row unique keys so they never form
    a skewed partition; a corpus-wide boilerplate line's partition is
    bounded by its true duplication count, the same bound as exact
    dedup's fingerprint shuffle), then one groupBy on the doc id for
    reassembly. collect_list skips the NULLed dropped lines, so no
    second scan or join-back is needed."""
    idc, NL = F.col(id_col), "\n"
    # NULL text coalesces to '' (one exempt blank line) — posexplode of a
    # NULL array would silently drop the document, breaking the
    # every-document-survives contract for poison rows
    parts = df.select(
        id_col,
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), NL)
        ).alias("_pos", "_line"),
    )
    norm = F.trim(F.col("_line"))
    exempt = norm == ""
    key = F.when(
        exempt, F.concat_ws(":", F.lit("u"), idc.cast("string"), F.col("_pos"))
    ).otherwise(F.concat(F.lit("l:"), F.md5(norm)))
    first = F.min(F.struct(idc.alias("i"), F.col("_pos").alias("p"))).over(
        Window.partitionBy(key)
    )
    keep = exempt | ((idc == first["i"]) & (F.col("_pos") == first["p"]))
    tagged = parts.select(id_col, "_pos", "_line", keep.alias("_keep"))
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_keep"),
                        F.struct(F.col("_pos").alias("p"), F.col("_line").alias("l")),
                    )
                )
            ),
            lambda s: s["l"],
        ),
        NL,
    )
    return tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_lines"),
        F.sum(F.col("_keep").cast("int")).cast("int").alias("n_kept"),
        rebuilt.alias(out_col),
    )


# ---------------------------------------------------------------------------
# exact set-similarity self-join via prefix filtering (AllPairs / PPJoin)
# ---------------------------------------------------------------------------


def jaccard_join_prefix(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold_num: int,
    threshold_den: int,
    *,
    max_bucket: Optional[int] = None,
    on_capped: str = "allow",
) -> DataFrame:
    """EXACT Jaccard >= num/den self-join over a set-valued column —
    prefix filtering (Bayardo et al. 2007 AllPairs; Xiao et al. 2008
    PPJoin), the lossless alternative to MinHash-LSH: every qualifying
    pair is found, no probabilistic recall.

    Principle: order each set by a single global token order (document
    frequency ascending, token ascending — rarest first); a pair with
    Jaccard >= t over sets of size n must overlap by >= ceil(t*n), so it
    must share at least one token among each side's first
    n - ceil(t*n) + 1 tokens. Candidates come from an equi-join on
    PREFIX tokens only; exact intersection/union sizes verify.

    The threshold is a RATIONAL (num/den) and every predicate is integer
    (den*inter >= num*union; prefix length by integer ceiling), so the
    qualifying-pair SET is bit-reproducible on any engine — the oracle
    brute-forces the same integer predicate.

    100 TB design: the wide exchanges carry (token, doc) prefix rows and
    (doc -> set) relations — never all-pairs. Prefix tokens are by
    construction the RAREST tokens of each set, so candidate buckets are
    naturally small; `max_bucket` (optional — the join is exact without
    it) additionally drops degenerate hot prefix tokens at a documented
    recall cost, the `signature_candidate_pairs` contract. Returns
    (id_a, id_b, n_inter, n_union, jaccard) with id_a < id_b."""
    num, den = int(threshold_num), int(threshold_den)
    if not (0 < num <= den):
        raise ValueError(f"threshold must be in (0, 1]: {num}/{den}")
    from pyspark.sql import Window

    sets = df.select(
        F.col(id_col).alias("_id"), F.array_distinct(F.col(set_col)).alias("_s")
    ).filter(F.size("_s") > 0)
    toks = sets.select(
        "_id", F.size("_s").alias("_n"), F.explode("_s").alias("_t")
    )
    dfreq = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    # prefix rows straight from ONE ranked window over the global token
    # order (df asc, token asc): rank <= n - ceil(t*n) + 1. The previous
    # shape materialized the full ordered array per doc
    # (collect_list(struct) + array_sort + interpreted transform) just
    # to slice its head and explode it back — the window form keeps the
    # sort in codegen, drops the interpreted lambda, and removes an
    # aggregate stage. sf0.1 timing is within window noise (the corpus
    # is small enough that stage count dominates); the win is at scale,
    # where per-doc array materialization and per-element lambda
    # interpretation grow with set size. Candidate/pair sets identical
    # (tokens are distinct per doc, so the (df, token) order is total —
    # oracle re-attested at sf0.001/0.01/0.1)
    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(),
                                          F.col("_t").asc())
    pre = (
        toks.join(dfreq, "_t")
        .withColumn("_rk", F.row_number().over(w))
        .filter(
            F.col("_rk")
            <= F.expr(f"_n - ({num} * _n + {den} - 1) DIV {den} + 1")
        )
        .select("_id", "_t")
    )
    if max_bucket is not None:
        pre = _cap_buckets(
            pre, ["_t"], max_bucket, on_capped, "jaccard_join_prefix"
        )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(b, (F.col("a._t") == F.col("b._t"))
               & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sa = sets.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    sb = sets.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    # staged intersection (r14 optimization round, guide §1.2): n_union
    # referenced `inter` inside the same projection and the threshold
    # filter's pushdown substitution copied both, so each candidate paid
    # FOUR array_intersect set builds (two in the pushed Filter, two in
    # the Project). Stage (_i, _sz) once; n_inter/n_union/jaccard are
    # integer arithmetic over the staged columns — values unchanged.
    staged = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).alias("_i"),
            (F.size(F.col("_sa")) + F.size(F.col("_sb"))).alias("_sz"),
        )
    )
    return (
        staged.select(
            "id_a",
            "id_b",
            F.col("_i").cast("int").alias("n_inter"),
            (F.col("_sz") - F.col("_i")).cast("int").alias("n_union"),
        )
        .filter(F.col("n_inter") * den >= F.col("n_union") * num)
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / F.col("n_union"), 6),
        )
    )


def jaccard_text_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int,
    threshold_den: int,
    *,
    max_bucket: Optional[int] = None,
    on_capped: str = "allow",
) -> DataFrame:
    """`jaccard_join_prefix` over normalized-token SETS of a text column
    (the tokenizer contract of functions/text.tokens)."""
    # drop the empty token (X.tokens('') is ['']): without this, every
    # blank/whitespace doc shares the single-token set [''] and emits
    # B(B-1)/2 jaccard-1.0 pairs through one degenerate prefix bucket
    # (r8 review) — the module invariant is that content-free docs never
    # match, enforced at every other entry point
    sets = df.select(
        F.col(id_col),
        F.filter(
            X.tokens(F.col(text_col)), lambda t: t != F.lit("")
        ).alias("_toks"),
    )
    return jaccard_join_prefix(
        sets, id_col, "_toks", threshold_num, threshold_den,
        max_bucket=max_bucket,
    )
