"""Deterministic sampling & dataset splitting for training pipelines
(SURVEY.md §2.7 family; no reference counterpart — corpus-scale ops).

Reproducibility is the whole point: every assignment is a pure function of
(row id, salt), so re-running the pipeline on a grown corpus keeps every
previously-assigned row in the same split/sample (the property random()
or rand(seed) does NOT have — Spark's rand is seeded per-partition, so a
repartition or a data append reshuffles every assignment).

Mechanism: the first 8 hex chars of md5(id:salt) are a uniform draw from
[0, 16^8) — compared as STRINGS against precomputed hex cutpoints, which
avoids any hex→int conversion and is exactly reproducible in any engine
with md5 (the DuckDB oracles replicate it verbatim). Everything is a
scan-stage Column expression: zero shuffle, zero Python.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from purescript_ifrit_spark.functions.hashing_sql import (  # noqa: F401
    _SPACE,
    _hex_cut,
    hash_split_sql,
)


def _cut_or_all(fraction: float) -> str:
    """Cutpoint that keeps EVERYTHING at fraction 1.0: 'g' sorts after any
    hex digit, so draw < 'g' is always true (a plain _hex_cut(1.0) caps at
    'ffffffff' and silently drops the 1-in-2^32 draw equal to it)."""
    return "g" if fraction >= 1.0 else _hex_cut(fraction)


def _draw(id_col: Column, salt: str) -> Column:
    return F.substring(
        F.md5(F.concat(id_col.cast("string"), F.lit(":" + salt))), 1, 8
    )


def split_expr(
    id_col: Column,
    weights: Sequence[Tuple[str, float]],
    salt: str,
) -> Column:
    """The split assignment as a Column expression (shared by `hash_split`
    and the dialect SPLIT function in functions/dialect_ext.py)."""
    if not weights:
        raise ValueError("weights must name at least one split")
    for name, w in weights:
        # r8 review: a negative weight passes the total check but makes
        # the cumulative cutpoints non-monotone — the following split
        # becomes unreachable and its neighbor silently absorbs its share
        if w <= 0:
            raise ValueError(
                f"split weight for {name!r} must be positive (got {w})"
            )
    total = sum(w for _, w in weights)
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1 (got {total})")
    draw = _draw(id_col, salt)
    # forward-chained when(): the FIRST cutpoint the draw falls under wins
    # (cutpoints are cumulative, so earlier conditions are subsets)
    expr, cum = None, 0.0
    for name, w in weights[:-1]:
        cum += w
        cond = draw < F.lit(_hex_cut(cum))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    tail = F.lit(weights[-1][0])  # last split absorbs the remainder
    return tail if expr is None else expr.otherwise(tail)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[Tuple[str, float]] = (("train", 0.98), ("val", 0.01), ("test", 0.01)),
    salt: str = "v1",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split with the given weights,
    deterministically in (id, salt).

    `weights` is an ordered sequence of (name, weight) summing to ~1; the
    last split absorbs rounding. Appending data never reassigns existing
    rows; changing `salt` re-rolls every assignment."""
    return df.withColumn(out_col, split_expr(F.col(id_col), weights, salt))


def hash_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    salt: str = "v1",
) -> DataFrame:
    """Keep a deterministic ~`fraction` subset: rows whose draw falls below
    the cutpoint. Unlike DataFrame.sample, membership is stable across
    reruns, repartitions, and corpus growth."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1] (got {fraction})")
    if fraction == 1.0:
        return df
    return df.filter(_draw(F.col(id_col), salt) < F.lit(_hex_cut(fraction)))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict,
    default_fraction: float = 0.0,
    salt: str = "v1",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep ~`fractions[stratum]` of
    each stratum's rows (strata absent from the dict get
    `default_fraction`). Fraction 1.0 keeps the stratum in full. The
    corpus-rebalancing primitive ("keep 10% of en, all of yo") with the
    same stability guarantee as `hash_sample`: one
    uniform draw per row, compared against a stratum-dependent cutpoint —
    membership never changes under reruns, repartitions, or corpus growth,
    and raising one stratum's fraction only ever ADDS rows to it (the kept
    set is monotone in the fraction).

    Scan-stage Column expression; zero shuffle, zero Python."""
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0,1] (got {f})")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0,1] (got {default_fraction})")
    cut = None
    for s, f in fractions.items():
        cond = F.col(stratum_col) == F.lit(s)
        cut = (
            F.when(cond, F.lit(_cut_or_all(f)))
            if cut is None
            else cut.when(cond, F.lit(_cut_or_all(f)))
        )
    tail = F.lit(_cut_or_all(default_fraction))
    cut = tail if cut is None else cut.otherwise(tail)
    return df.filter(_draw(F.col(id_col), salt) < cut)


def stratified_sample_sql(
    id_expr: str,
    stratum_expr: str,
    fractions: dict,
    default_fraction: float = 0.0,
    salt: str = "v1",
) -> str:
    """The ANSI-SQL WHERE-predicate twin of `stratified_sample` (same draw,
    same cutpoints) — used by the driver oracle so engine and oracle can
    never drift."""
    draw = f"substr(md5({id_expr} || ':{salt}'), 1, 8)"
    tail = f"'{_cut_or_all(default_fraction)}'"
    if not fractions:
        # r8 review: zero WHEN clauses is a parse error on both engines;
        # the Python twin supports the default-fraction-only form
        return f"{draw} < {tail}"
    whens = " ".join(
        # strata are DATA values — escape quotes (o'reilly.com is real)
        f"WHEN {stratum_expr} = '{str(s).replace(chr(39), chr(39) * 2)}' "
        f"THEN '{_cut_or_all(f)}'"
        for s, f in fractions.items()
    )
    return f"{draw} < (CASE {whens} ELSE {tail} END)"


def stratified_fixed_k(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    k: int,
    salt: str = "v1",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, selected in
    deterministic md5-draw order (then id as tie-break) — fixed-count
    allocation, the complement of `stratified_sample`'s fixed-fraction.
    Unlike fraction sampling, growing the corpus CAN displace rows (a new
    row with an earlier draw evicts the stratum's last pick) — that is
    inherent to any exact-k scheme; within a fixed corpus the selection is
    stable under reruns and repartitions.

    Scale: one window partitioned by stratum in draw order — the same
    shuffle a groupBy(stratum) needs; WindowGroupLimit pushes the k-limit
    map-side so only ~k rows per stratum per partition reach the exchange."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        _draw(F.col(id_col), salt).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def budget_sample(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    group_col: str | None = None,
    salt: str = "v1",
    num_shards: int | None = None,
) -> DataFrame:
    """Keep rows, in deterministic hash order, until each group's token
    budget is spent — the standard corpus-mixing cap ("at most N tokens of
    language X / domain Y").

    A row is kept while the cumulative token count UP TO AND INCLUDING it
    stays within `budget` (so a row never splits; the first over-budget row
    and everything after it drop). Selection order is the md5 draw (then id
    as tie-break): stable under reruns and repartitions, and growing the
    corpus only ever *displaces* rows with later draws — it never reshuffles
    the order itself.

    Scale: with a `group_col`, ONE window partitioned by it — state is
    per-group and the shuffle is the groupBy-equivalent hash exchange; no
    global sort. With `group_col=None` the cumulative sum is SHARDED on
    the draw itself (same offset construction as
    text_analysis.pack_sequences): the md5 draw is an 8-hex-char string
    whose lexicographic order IS its numeric order, so contiguous
    hex-prefix ranges are contiguous in the global draw order — rows
    shard by their first 4 hex digits, the window runs per shard, and
    each shard adds the token total of all earlier shards
    (operators/sharding.sharded_prefix_sum). offset + per-shard cumsum
    == the exact global cumsum — bit-identical to the single-window
    semantics for integral token counts (the expected column type; a
    float token column could differ in the last ulp at shard boundaries
    because addition reassociates) — with no single-partition exchange.
    The draw is uniform, so shards balance without any min/max scan.
    `num_shards` defaults to the session parallelism; `num_shards=1`
    forces the legacy global window."""
    if budget <= 0:
        raise ValueError(f"budget must be positive (got {budget})")
    from pyspark.sql import Window

    draw = _draw(F.col(id_col), salt)
    order = [F.col("_bdraw").asc(), F.col(id_col).asc()]

    if group_col is not None:
        w = (
            Window.partitionBy(group_col)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            df.withColumn("_bdraw", draw)
            .withColumn("_cum_tokens", F.sum(F.col(token_col)).over(w))
            .filter(F.col("_cum_tokens") <= budget)
            .drop("_bdraw", "_cum_tokens")
        )

    if num_shards is None:
        # conf read, not sparkContext.defaultParallelism: the latter
        # raises on Spark Connect, and the shuffle-partition count is
        # the right default anyway (the sharded prefix-sum's exchange
        # width is what the shard count should match — r8 review)
        num_shards = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    d = df.withColumn("_bdraw", draw)
    if num_shards <= 1:
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            d.withColumn("_cum_tokens", F.sum(F.col(token_col)).over(w))
            .filter(F.col("_cum_tokens") <= budget)
            .drop("_bdraw", "_cum_tokens")
        )

    # first 4 hex digits → [0, 65536) → num_shards contiguous draw ranges.
    # A NULL id yields a NULL draw, which the ascending window sorts NULLS
    # FIRST — pin it to shard 0 (an un-handled NULL shard key would vanish
    # in the offset equi-join and silently drop the row)
    from purescript_ifrit_spark.operators.sharding import sharded_prefix_sum

    shard = F.when(F.col("_bdraw").isNull(), F.lit(0)).otherwise(
        F.floor(
            F.conv(F.substring(F.col("_bdraw"), 1, 4), 16, 10).cast("long")
            * num_shards
            / F.lit(65536)
        )
    ).cast("int")
    d = d.withColumn("_shard", shard)
    d, cum = sharded_prefix_sum(d, "_shard", order, token_col)
    return (
        d.withColumn("_cum_tokens", cum)
        .filter(F.col("_cum_tokens") <= budget)
        .drop("_bdraw", "_shard", "_off", "_cum_tokens")
    )


def shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "shuffle-v1",
) -> DataFrame:
    """Deterministic global corpus shuffle + sharding for training order:
    adds (shard, pos) where shard = md5-draw mod n_shards and pos is the
    row's 0-based rank within its shard in draw order (id as tiebreak —
    the draw space is 2^32, so collisions exist at corpus scale and an
    untied rank would be nondeterministic). Reading shards in pos order
    replays one uniform pseudorandom permutation of the corpus —
    reproducibly, unlike orderBy(rand()) whose per-partition seeding
    reshuffles on every repartition or append.

    Scale: ONE shuffle, on the shard key; each shard is corpus/n_shards
    rows, so pick n_shards >= the cluster's write parallelism (a trainer
    typically wants hundreds-to-thousands of shard files anyway, which
    also makes the per-shard rank window's state bounded). Writing with
    partition_by=shard then streams each shard already in draw order."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive (got {n_shards})")
    from pyspark.sql import Window

    draw = _draw(F.col(id_col), salt)
    # NULL ids pin to shard 0 (the budget_sample convention, r8 review):
    # conv(NULL)%n is NULL, which would mint an undocumented shard=NULL
    # directory a "read shards 0..n-1" trainer loop never opens
    shard = F.coalesce(
        (F.conv(draw, 16, 10).cast("long") % n_shards).cast("int"), F.lit(0)
    )
    w = Window.partitionBy("_shard").orderBy(
        F.col("_draw").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_draw", draw)
        .withColumn("_shard", shard)
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .withColumnRenamed("_shard", "shard")
        .drop("_draw")
    )


def temperature_mix(
    df: DataFrame,
    id_col: str,
    token_col: str,
    group_col: str,
    total_budget: int,
    temperature: float = 2.0,
    salt: str = "v1",
) -> DataFrame:
    """Temperature-based source mixing: split a global token budget across
    groups proportionally to size^(1/T), then fill each group's share in
    deterministic hash order — the standard LLM data-mixing move
    (T=1 is proportional sampling, T→∞ is uniform across groups; T≈2
    upweights small sources the way multilingual/mixture recipes do).

    T=2 is the INTEGER-EXACT path: weights are floor(sqrt(group_tokens))
    (sqrt is IEEE-correctly-rounded in every engine, floor makes it an
    integer), the weight total and per-group budgets use integer
    division — so the kept SET is a pure integer function of the input
    and the paired oracle recomputes membership row-for-row. Other
    temperatures go through float pow: same structure, but a last-ulp
    pow difference across engines could flip a boundary row, so only
    T=2 carries a value-exact oracle (the property tests cover the rest).

    Scale: one tiny per-group aggregate (broadcast back), then exactly
    the budget_sample window — one hash exchange on the group, per-group
    state only. NOTE: `df` is consumed by TWO plan branches (the budget
    aggregate and the fill join); exchange reuse dedupes shuffled
    upstream stages across them, but scan-side work before the first
    exchange runs twice — persist an expensive upstream projection
    first (training_shard_pipeline's composition barrier is the
    template)."""
    if total_budget <= 0:
        raise ValueError(f"total_budget must be positive (got {total_budget})")
    if temperature <= 0:
        raise ValueError(f"temperature must be positive (got {temperature})")
    from pyspark.sql import Window

    # _wsum == 0 (every group's token sum is 0, so every weight floors to
    # 0) must yield the EMPTY selection, not a DIVIDE_BY_ZERO under ANSI
    # mode (T=2 integer `div`) or NaN budgets (float path): guard the
    # division behind CASE WHEN — a NULL budget keeps no rows below.
    totals = df.groupBy(group_col).agg(F.sum(F.col(token_col)).alias("_tg"))
    if temperature == 2.0:
        weights = totals.withColumn(
            "_w", F.floor(F.sqrt(F.col("_tg"))).cast("long")
        )
        tot_w = weights.agg(F.sum("_w").alias("_wsum"))
        budgets = (
            weights.crossJoin(F.broadcast(tot_w))
            .withColumn(
                "_budget",
                F.when(
                    F.col("_wsum") > 0,
                    F.expr(f"({total_budget}L * _w) div _wsum"),
                ).cast("long"),
            )
            .select(group_col, "_budget")
        )
    else:
        weights = totals.withColumn(
            "_w", F.pow(F.col("_tg").cast("double"), 1.0 / temperature)
        )
        tot_w = weights.agg(F.sum("_w").alias("_wsum"))
        budgets = (
            weights.crossJoin(F.broadcast(tot_w))
            .withColumn(
                "_budget",
                F.when(
                    F.col("_wsum") > 0,
                    F.floor(
                        F.lit(float(total_budget))
                        * F.col("_w")
                        / F.col("_wsum")
                    ),
                ).cast("long"),
            )
            .select(group_col, "_budget")
        )

    draw = _draw(F.col(id_col), salt)
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("_bdraw").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL-SAFE budget join: a NULL group (unattributed source) has its
    # own totals row and its own window partition on both sides of this
    # operator — a plain equi-join would silently drop every NULL-group
    # row and under-fill the global budget
    budgets_r = budgets.withColumnRenamed(group_col, "_bg")
    joined = df.join(
        F.broadcast(budgets_r), F.col(group_col).eqNullSafe(F.col("_bg"))
    ).drop("_bg")
    return (
        joined.withColumn("_bdraw", draw)
        .withColumn("_cum", F.sum(F.col(token_col)).over(w))
        .filter(F.col("_cum") <= F.col("_budget"))
        .drop("_bdraw", "_cum", "_budget")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    weights: Sequence[Tuple[str, float]] = (
        ("train", 0.98), ("val", 0.01), ("test", 0.01)
    ),
    salt: str = "v1",
    out_col: str = "split",
) -> DataFrame:
    """Group-aware train/val/test assignment: documents connected by a
    near-duplicate edge (any pair list — minhash, simhash, embedding
    near-dup) must never straddle a split boundary, or the held-out set
    leaks training content and eval numbers lie. Labels each connected
    component of the pair graph (dedup.connected_components) and draws
    the split from the COMPONENT representative's md5 — every member
    lands in the same split; documents absent from the graph are their
    own singleton component (drawn from their own id, which is exactly
    hash_split's behavior, so adding an empty pair list degrades to
    plain hash_split).

    Scale: the component labeling is the large-star/small-star
    contraction over the EDGE list only (near-dup-pair-sized, not
    corpus-sized); the label join is one corpus-keyed exchange; the
    draw itself is scan-stage. Output: df's columns + `out_col`."""
    from purescript_ifrit_spark.operators.dedup import connected_components

    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    joined = df.join(comp, [id_col], "left")
    rep = F.coalesce(F.col("component"), F.col(id_col))
    return joined.withColumn(
        out_col, split_expr(rep, list(weights), salt)
    ).drop("component")


def mixture_to_target(
    df: DataFrame,
    token_col: str,
    group_col: str,
    target_shares: "dict[str, float]",
) -> DataFrame:
    """Per-group resampling weights that move the corpus token mix to a
    TARGET distribution — the other standard LLM data-mixing move
    (temperature_mix rebalances by a power law; this one hits explicit
    shares, e.g. a domain-weights recipe tuned downstream à la DoReMi).

    Output: (group, n_docs, n_tokens, actual_share, target_share,
    weight) with weight = target_share / actual_share — multiply into
    per-document sampling probabilities (weight > 1 oversamples the
    group, < 1 downsamples; 0 drops groups missing from the target).
    Weights are emitted, not applied: composition with budget_sample /
    weighted sampling stays the caller's choice, and the report itself
    is the auditable artifact.

    100 TB design: one tiny per-group aggregate plus a broadcast 1-row
    total — no data-sized shuffle at all; the weight table is
    group-cardinality-sized and broadcasts into whatever sampler
    consumes it."""
    if not target_shares:
        raise ValueError("target_shares must be a non-empty mapping")
    tgt = F.create_map(
        *[
            F.lit(x)
            for kv in target_shares.items()
            for x in (kv[0], float(kv[1]))
        ]
    )
    totals = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col(token_col)).cast("long").alias("n_tokens"),
    )
    grand = totals.agg(F.sum("n_tokens").alias("_tot"))
    return (
        totals.crossJoin(F.broadcast(grand))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            F.when(
                F.col("_tot") > 0,
                F.col("n_tokens").cast("double") / F.col("_tot").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("actual_share"),
            F.coalesce(tgt[F.col(group_col)], F.lit(0.0)).alias(
                "target_share"
            ),
        )
        .withColumn(
            "weight",
            F.when(
                F.col("actual_share") > 0,
                F.col("target_share") / F.col("actual_share"),
            ).otherwise(F.lit(0.0)),
        )
    )
