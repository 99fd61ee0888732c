"""Join strategies tuned for the star schema at scale.

The reference has NO joins (README.md:199: single collection, no joins) —
these are engine extensions, written the way they must be written at 100 TB:

- dimension joins broadcast explicitly (`F.broadcast`) — a 25-row nation
  table must never shuffle a 100 TB fact table
- fact-fact joins rely on shuffle-hash/sort-merge with AQE; helpers here
  expose salting for skewed keys
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
) -> DataFrame:
    """Skew-resistant equi-join: left side gets a random-ish salt derived
    from a stable hash of its row (deterministic), right side is replicated
    `salt` ways. Use when one join key dominates (power-law keys) and AQE
    skew-join still struggles."""
    left_s = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    right_s = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return left_s.join(right_s, [key, "_salt"]).drop("_salt")


def orders_enriched(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Star-schema enrichment: orders ⋈ customer ⋈ nation ⋈ region with all
    dimensions broadcast. The fact table never moves."""
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )


def fuzzy_key_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    max_dist: int = 1,
    *,
    exact_block_cols: Sequence[tuple] = (),
) -> DataFrame:
    """Approximate string join: pairs where
    ``levenshtein(left_key, right_key) <= max_dist`` — record linkage /
    fuzzy key reconciliation (the crawl-metadata merge step: near-equal
    titles, typo'd identifiers). Engine extension; the reference has no
    joins at all (README.md:199).

    Returns left.columns ++ right.columns ++ `edit_dist` (int). Column
    name collisions between the two sides raise (alias before joining).

    Completeness: length blocking is EXACT for Levenshtein — an edit
    distance <= k implies abs(len(a) - len(b)) <= k — so bucketing the
    left side at its own key length and fanning the right side out to
    the 2k+1 lengths it could match makes the equi-join a complete
    candidate generator (each qualifying pair meets in exactly ONE
    bucket, the left length: no dedup stage). `exact_block_cols`
    ([(left_col, right_col), ...]) adds equality conjuncts to the join
    key — a semantic narrowing (match within the same language /
    source), not a recall heuristic.

    100 TB design: ONE equi-join exchange on (length-bucket, *blocks);
    the fanout side replicates each row 2k+1 times (k is 1-3 in
    practice). The post-join filter uses the THRESHOLD form of
    levenshtein (early-exits the DP at k), codegen'd JVM-side. Length
    buckets follow the corpus length distribution — for skewed
    all-same-length keys add an `exact_block_cols` conjunct (or salt
    upstream); a cap would silently drop pairs, so none is offered.
    """
    if not 0 <= max_dist <= 8:
        raise ValueError(
            f"max_dist must be in [0, 8] (got {max_dist}) — the fanout is "
            "2*max_dist+1 per right row and the DP filter is O(len*k)"
        )
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"column collision across sides: {sorted(overlap)} — alias "
            "before fuzzy_key_join so the output is unambiguous"
        )
    if max_dist == 1:
        return _fuzzy_join_del1(left, right, left_key, right_key,
                                exact_block_cols)
    l = left.withColumn("_lb", F.length(F.col(left_key)))
    r = right.withColumn(
        "_lb",
        F.explode(
            F.sequence(
                F.length(F.col(right_key)) - max_dist,
                F.length(F.col(right_key)) + max_dist,
            )
        ),
    )
    on = [l["_lb"] == r["_lb"]]
    for lc, rc in exact_block_cols:
        on.append(l[lc] == r[rc])
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    dist = F.levenshtein(F.col(left_key), F.col(right_key), max_dist)
    return (
        l.join(r, cond)
        .drop("_lb")
        .withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") >= 0)  # threshold form: -1 = "beyond k"
    )


def _del1_variants(c):
    """array<string>: the key plus every single-character deletion of it
    (deduplicated) — the FastSS k=1 neighborhood."""
    n = F.length(c)
    dels = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(
                c.substr(F.lit(1), i - 1), c.substr(i + 1, n)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(F.concat(F.array(c), dels))


def _fuzzy_join_del1(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    exact_block_cols: Sequence[tuple],
) -> DataFrame:
    """max_dist=1 path: deletion-neighborhood (FastSS) blocking.

    lev(a, b) <= 1 implies the two deletion neighborhoods {key} ∪
    {key minus one char} intersect (equal: trivially; one
    insert/delete: the longer side's deletion IS the shorter key; one
    substitution: deleting the differing position from both sides
    coincides) — so an equi-join on variants is a COMPLETE candidate
    generator, and the threshold-DP filter keeps it exact.

    Why this replaces length blocking at k=1: corpora whose keys share
    one length distribution (product names, titles, near-fixed-width
    ids) collapse length buckets into a few quadratic cells — measured
    64 s median for the sf0.1 bench extra, quadratic beyond. Variant
    blocking costs len+1 fanout per row but candidates are only true
    near-matches: same extra, 64 s → sub-second. Pairs can meet in
    several shared variants (equal keys share every variant), so
    candidates dedupe BEFORE the DP: one dropDuplicates over the
    output columns — which also collapses byte-identical duplicate
    input ROWS to one output pair (degenerate input; documented
    deviation from the k>=2 path's M×N duplication)."""
    lv = left.withColumn("_v", F.explode(_del1_variants(F.col(left_key))))
    rv = right.withColumn("_v", F.explode(_del1_variants(F.col(right_key))))
    cond = lv["_v"] == rv["_v"]
    for lc, rc in exact_block_cols:
        cond = cond & (lv[lc] == rv[rc])
    dist = F.levenshtein(F.col(left_key), F.col(right_key), 1)
    return (
        lv.join(rv, cond)
        .drop("_v")
        .dropDuplicates()
        .withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") >= 0)
    )
