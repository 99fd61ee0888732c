"""Similarity search over embedding columns (array<float>).

Four tiers (SURVEY.md §2.7 extension; no reference counterpart):

1. brute-force cosine top-k — the exactness baseline. One narrow pass:
   cosine is a codegen'd zip_with/aggregate, top-k is TakeOrdered. Scales
   linearly; right answer for one-off queries even at 10^9 rows.
2. LSH-bucketed (random hyperplanes) — `bucket` column computed in the scan
   stage; query probes only matching buckets (hamming-adjacent probes for
   recall). Turns full scans into partition-pruned scans when the table is
   written partitioned by bucket.
3. IVF (inverted file) — coarse k-means-style centroids (deterministically
   seeded sample, optionally refined over the full corpus with
   `ivf_centroids_refine`), each row assigned to nearest centroid; queries
   probe the `nprobe` nearest centroids. Candidates shrink ~nlist/nprobe-fold.
4. PQ (product quantization, r12) — per-subspace codebooks compress each
   vector to m small codes (32× at 64-dim float32 → 8 codes); queries rank
   codes by asymmetric distance (ADC) from a driver-built lookup table, so
   the rerank working set is bytes, not vectors. Compose with IVF: prune
   cells, ADC-rank the survivors, exact-check only the final handful.

Each tier has a single-query form (a JVM-only TakeOrdered plan) and a
batch form. All six batch forms (cosine, LSH, IVF, PQ, IVF-PQ residual,
exact L2) run ONE kernel, `_topk_per_query`: an Arrow mapInPandas of
`_make_topk_worker`'s tie-exact partial top-k, then `_rank_per_query`'s
per-query window. A tier only says how it scores a block of rows against
the queries that probe it (numpy matmul or LUT gathers per batch — the
documented fast path when built-ins can't express a matrix product
efficiently); the IVF tiers share one probe rule, `_probe_cells_batch`.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from purescript_ifrit_spark.functions import vectors as V


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity to one query vector.

    Returns (id, sim) ordered desc; ties broken by id for determinism.
    Plan shape: Scan → Project(dot, norm) → Project(sim) →
    TakeOrderedAndProject(k) — no shuffle beyond the final k-row gather.

    The two-level projection is load-bearing (r14 optimization round,
    guide §1.2): the single-expression V.cosine form evaluated FIVE
    interpreted array folds per row — norm(vec) twice (CASE guard +
    division; HOFs are CodegenFallback, so codegen subexpression
    elimination never applies) and norm(query) twice over the 64-element
    literal, which Catalyst does not constant-fold. Staging dot/norm in
    an inner Project (CollapseProject keeps non-cheap expressions
    single-use, SPARK-36718 semantics) and computing ||query|| on the
    driver leaves exactly two folds per row. ||query|| is bit-identical
    to the JVM fold (same IEEE doubles added in the same order, one
    correctly-rounded sqrt), so every sim value is unchanged
    (oracle-pinned)."""
    import math

    q = V.lit_vector(query)
    acc = 0.0
    for v in query:
        fv = float(v)
        acc += fv * fv
    nq = math.sqrt(acc)
    staged = df.select(
        F.col(id_col),
        V.dot(F.col(vec_col), q).alias("_dot"),
        V.norm(F.col(vec_col)).alias("_na"),
    )
    denom = F.col("_na") * F.lit(nq)
    sim = F.when(denom == 0, F.lit(0.0)).otherwise(F.col("_dot") / denom)
    return (
        staged.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _query_batch(
    queries: "np.ndarray", query_ids: Sequence[int]
) -> "tuple[np.ndarray, np.ndarray]":
    """(Q, dim) float64 query matrix and (Q,) int64 ids for a batch ANN
    entry point, checked on the driver: a non-2-D `queries` (e.g. `[]`)
    would fail as a raw numpy AxisError/IndexError, a shorter id list
    as an IndexError inside executors at qids[qi], and a longer one
    would be silently truncated (r12, ADVICE r11) — each raises a named
    ValueError here instead. A (0, dim) batch is valid and yields an
    empty frame."""
    qm = np.asarray(queries, dtype=np.float64)
    if qm.ndim != 2:
        raise ValueError(
            "queries must be a 2-D (n_queries, dim) matrix "
            f"(got shape {qm.shape})"
        )
    qids = np.asarray(list(query_ids), dtype=np.int64)
    if len(qids) != len(qm):
        raise ValueError(
            f"query_ids length {len(qids)} != queries length {len(qm)}"
        )
    return qm, qids


def _make_topk_worker(
    k: int, qids: "np.ndarray", id_col: str, score: str, blocks
):
    """The one worker-local partial top-k every batch ANN tier runs
    (r10 contract; a by-value factory like multimodal's
    `_make_ppm_decoder`: the returned closure calls nothing at module
    level, so executors never import the package).

    `blocks(pdf)` yields `(ids, qidx, lower)` per Arrow batch: a block
    of rows, the indices into `qids` of the queries that score it, and
    the (rows, queries) matrix of lower-is-better scores (−sim for
    cosine, the distance for L2/ADC). Each block reduces to its LOCAL
    per-query top-k before anything leaves Python: top-k of a union is
    the top-k of per-part top-ks, so the global window over the
    partials returns exactly the answer over every scored (row, query)
    pair. Ties are exact — each block ranks by the same (score, id asc)
    total order the final window uses, including every row tied with
    the k-th score, so duplicate vectors or codes cannot flip the
    returned set. Emits (query_id, id, score) with score = −lower for
    `score="sim"`, else lower."""
    sign = -1.0 if score == "sim" else 1.0

    def partial_topk(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_q, out_i, out_s = [], [], []
            for ids, qidx, lower in blocks(pdf):
                n = min(k, len(ids))
                # k-th best score per query in one vectorized pass;
                # candidates = everything at or above it (ties included)
                kth = np.partition(lower, n - 1, axis=0)[n - 1]
                for jj, qi in enumerate(qidx):
                    cand = np.nonzero(lower[:, jj] <= kth[jj])[0]
                    order = cand[np.lexsort((ids[cand], lower[cand, jj]))][:n]
                    out_q.append(np.full(n, qids[qi]))
                    out_i.append(ids[order])
                    out_s.append(sign * lower[order, jj])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        id_col: np.concatenate(out_i),
                        score: np.concatenate(out_s),
                    }
                )

    return partial_topk


def _rank_per_query(
    frame: DataFrame, id_col: str, score: str, k: int
) -> DataFrame:
    """Top-k rows per query_id by (sim desc | dist asc, id asc) — the
    one ranking window of the batch ANN family (a WindowGroupLimit
    window in the physical plan)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc() if score == "sim" else F.col(score).asc(),
        F.col(id_col).asc(),
    )
    return (
        frame.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= int(k))
        .select("query_id", F.col(id_col), score)
    )


def _topk_per_query(
    src: DataFrame, id_col: str, score: str, k: int, qids: "np.ndarray", blocks
) -> DataFrame:
    """The batch ANN kernel: ONE Arrow mapInPandas of `_make_topk_worker`
    over `src`, then the per-query window. The one exchange carries the
    partials only (k rows per query per block)."""
    out_schema = (
        f"query_id long, {id_col} {dict(src.dtypes)[id_col]}, {score} double"
    )
    partial = src.mapInPandas(
        _make_topk_worker(int(k), qids, id_col, score, blocks), out_schema
    )
    return _rank_per_query(partial, id_col, score, k)


def _queries_by_group(groups) -> dict:
    """{group: indices of the queries probing it} from per-query group
    lists (probed cells or buckets) — shipped in the worker closure."""
    out: dict = {}
    for qi, gs in enumerate(groups):
        for g in gs:
            out.setdefault(int(g), []).append(qi)
    return {g: np.asarray(v) for g, v in out.items()}


def _make_cosine_blocks(
    id_col: str, vec_col: str, qm: "np.ndarray", group_to_q: dict,
    key_col: str, row_keys,
):
    """Block source for the pruned cosine tiers (LSH buckets, IVF
    cells): each row's group is the stored `key_col` when the batch
    carries it, else `row_keys(rows)`; rows in unprobed groups drop,
    and every remaining group block matmuls against only ITS probing
    queries — each (row, query) pair with the row in a probed group of
    that query is scored exactly once."""
    qnorm = np.linalg.norm(qm, axis=1)
    qnorm[qnorm == 0] = 1.0

    def blocks(pdf):
        import numpy as np

        m_all = np.stack(pdf[vec_col].to_numpy())
        ids_all = pdf[id_col].to_numpy()
        if key_col in pdf.columns:
            keys = pdf[key_col].to_numpy()
        else:
            keys = row_keys(m_all)
        norms = np.linalg.norm(m_all, axis=1)
        norms[norms == 0] = 1.0
        for g in np.unique(keys):
            qs = group_to_q.get(int(g))
            if qs is None:
                continue
            sel = keys == g
            yield ids_all[sel], qs, -(
                (m_all[sel] @ qm[qs].T)
                / norms[sel][:, None]
                / qnorm[qs][None, :]
            )

    return blocks


def _probe_cells_batch(
    qm: "np.ndarray", cents: "np.ndarray", nprobe: int
) -> "np.ndarray":
    """Per-query probed cells: the (Q, nprobe) STABLE argsort of squared
    centroid distances — equal distances probe the lowest cell first,
    the tie rule of row assignment (JVM array_position, Arrow argmin).
    ONE implementation for every IVF probe site (ivf_topk,
    ivf_topk_batch, ivf_pq_topk, the residual tiers): with duplicate
    centroids (a caller-built array may repeat one; ivf_centroids
    drops its repeats) an unstable sort can probe the EMPTY
    copy cell and return 0 rows; and ivf_pq_rerank_batch's rerank-side
    cell filter is only a semantic no-op while it selects EXACTLY the
    cells its shortlist stage probes (r14 review fix)."""
    d2 = ((cents[None, :, :] - qm[:, None, :]) ** 2).sum(-1)  # (Q, nlist)
    return np.argsort(d2, axis=1, kind="stable")[
        :, : min(int(nprobe), len(cents))
    ]


def _sample_queries(
    qm: "np.ndarray", qids: "np.ndarray", n_sample: int, seed: int
) -> "tuple[np.ndarray, list]":
    """The seeded recall sample: min(n_sample, Q) queries, in query
    order. ONE rule for ann_recall_estimate and ann_advise — the
    precomputed `truth=` contract between them is exact-sampling
    identity."""
    rng = np.random.RandomState(seed)
    take = min(int(n_sample), len(qids))
    idx = np.sort(rng.choice(len(qids), size=take, replace=False))
    return qm[idx], [int(q) for q in qids[idx]]


def cosine_topk_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    k: int = 10,
) -> DataFrame:
    """Exact top-k rows per query for a BATCH of query vectors — brute
    force, every (row, query) similarity computed once.

    The query matrix is broadcast (numpy, via closure) and each Arrow
    batch does ONE matmul, then reduces to its LOCAL per-query top-k
    INSIDE the worker (`_make_topk_worker`) before anything leaves
    Python (r10, measured at 100x: the previous shape posexploded the
    full rows x queries sim matrix — 200M rows for 200k vectors x 1k
    queries — through Arrow/serde just to discard all but k per query
    in the window; the partial top-k emits batches x queries x k rows
    instead, ~1000x fewer). The one exchange carries the partials only
    and the final per-query top-k is a WindowGroupLimit window."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    qm, qids = _query_batch(queries, query_ids)  # (Q, dim)
    qnorm = np.linalg.norm(qm, axis=1)
    qnorm[qnorm == 0] = 1.0
    allq = np.arange(len(qm))

    def blocks(pdf):
        import numpy as np

        m = np.stack(pdf[vec_col].to_numpy())  # (B, dim)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        yield pdf[id_col].to_numpy(), allq, -(
            (m @ qm.T) / norms[:, None] / qnorm[None, :]
        )

    return _topk_per_query(
        df.select(id_col, vec_col), id_col, "sim", k, qids, blocks
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: Optional[Sequence[Sequence[float]]] = None,
    allow_crossjoin: bool = False,
    tables: Optional[Sequence[Sequence[Sequence[float]]]] = None,
    max_bucket: Optional[int] = None,
    on_capped: str = "allow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    With `planes` given, candidates are blocked by ONE hyperplane-LSH
    bucketing (the self-join becomes an equi-join on bucket). Two
    vectors at cosine s agree on a random hyperplane with
    p = 1 - arccos(s)/π, so a P-plane table finds a true pair with
    p^P — at s = 0.95, P = 8 that is 0.899^8 ≈ 0.43 (the pre-r12
    docstring called this "~57%": that was the MISS rate). Single-table
    recall is a sample, not a guarantee.

    With `tables` given (VERDICT r11 #4 — a list of T independent plane
    sets, e.g. `[make_hyperplanes(dim, 8, seed=s) for s in range(T)]`),
    candidates come from an OR-construction: a pair qualifies when it
    shares a bucket in ANY table, lifting recall to 1 - (1 - p^P)^T —
    at s = 0.95, P = 8: T=2 ≈ 0.67, T=4 ≈ 0.89, T=8 ≈ 0.989 (measured
    curve: SCALE.md r12). The shipped mechanism replaces the pre-r12
    "re-run with rotated planes yourself" guidance. Plan shape, built
    for the 100 TB corpus:

    * band rows are NARROW — (id, T signature longs); vectors never
      enter the candidate exchange (the minhash-LSH band-row design,
      dedup.py:189);
    * SINGLE EMISSION without a pair-level distinct: a pair sharing
      buckets in several tables is emitted only from its FIRST shared
      table — "no earlier table matched" is a scan-stage predicate over
      the two signature arrays riding the band rows (the
      signature_candidate_pairs trick, dedup.py:648);
    * verification (exact cosine) joins the candidate set back to the
      corpus by id — candidate-sized, not corpus²;
    * `max_bucket` caps degenerate buckets (all-equal embeddings, e.g.
      all-zero vectors): bucket sizes are a (T·bucket)-sized aggregate
      joined back to the band; `on_capped='error'` fails the task
      in-plan instead of silently dropping recall (dedup.py contract).
      The single-emission predicate is CAP-AWARE (ADVICE r12): a table
      whose bucket was dropped by the cap counts as "did not match", so
      a pair capped in one table is still emitted from its first
      surviving shared table instead of being suppressed everywhere.

    The exact all-pairs mode (no blocking) is an O(n²) cross join — an
    evaluation tool, never a scale path — so it must be opted into with
    `allow_crossjoin=True`; calling with no mode at all raises."""
    if tables is not None:
        if planes is not None:
            raise ValueError(
                "pass either `planes` (one bucketing) or `tables` "
                "(multi-table OR-construction), not both"
            )
        if len(tables) == 0:
            raise ValueError("`tables` must hold at least one plane set")
        if on_capped not in ("allow", "error"):
            raise ValueError(f"unknown on_capped mode {on_capped!r}")
        sig_arr = F.array(
            *[
                V.random_hyperplane_signature(F.col("_nv"), t).cast("long")
                for t in tables
            ]
        )
        # ONE distributed signature pass (r14 optimization round, guide
        # §1.2/§2.4/§2.6). Before: the band subtree fed BOTH sides of the
        # candidate self-join, and with the small side broadcast (the
        # AQE choice at bench scale) ReuseExchange cannot dedupe a
        # broadcast build against the probe side — the T·P hyperplane
        # folds ran TWICE per corpus row; the single-row-group bench
        # input additionally ran each pass on ONE core (measured at
        # sf0.1/T=4/P=12: the two signature stages are ~2.7 s of the
        # query's ~3 s). Fix: spread a provably-narrow scan to cluster
        # width (dedup._fanout_narrow_scan — analysis-only, no-op at
        # corpus scale where splits already exceed cores) and persist
        # the NARROW signature base (id + T longs per row; vectors stay
        # out of the cache) so both join sides and the cap path read one
        # materialized pass. Same expressions, same rows → values
        # bit-identical. Lazy-mode lifecycle as minhash_candidate_pairs'
        # shingle persist: pinned until the session/bench releases it.
        from pyspark import StorageLevel

        from purescript_ifrit_spark.operators.dedup import (
            _fanout_narrow_scan,
        )

        sig_base = (
            _fanout_narrow_scan(df, id_col)
            .select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nv"))
            .select("_nid", sig_arr.alias("_sigs"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        band = sig_base.select(
            "_nid", "_sigs", F.posexplode("_sigs").alias("_t", "_bkt")
        )
        if max_bucket is not None:
            sizes = band.groupBy("_t", "_bkt").agg(
                F.count(F.lit(1)).alias("_bn")
            )
            if on_capped == "error":
                ok = F.assert_true(
                    F.col("_bn") <= max_bucket,
                    F.concat(
                        F.lit("embedding_neardup_pairs: bucket ("),
                        F.col("_t").cast("string"), F.lit(", "),
                        F.col("_bkt").cast("string"), F.lit(") holds "),
                        F.col("_bn").cast("string"),
                        F.lit(
                            f" > max_bucket={max_bucket} rows — its "
                            "candidate pairs would be dropped by the "
                            "recall cap; raise max_bucket (or pass "
                            "None), dedup exact duplicates first, or "
                            "accept the cap with on_capped='allow'"
                        ),
                    ),
                )
                # the guard must ride a CONSUMED column (the join key)
                # or Catalyst prunes it (dedup._cap_collected_buckets)
                sizes = sizes.withColumn(
                    "_bkt", F.when(ok.isNull(), F.col("_bkt"))
                )
            else:
                sizes = sizes.filter(F.col("_bn") <= max_bucket)
            band = band.join(sizes.select("_t", "_bkt"), ["_t", "_bkt"])
            if on_capped == "allow":
                # ADVICE r12: the single-emission predicate below must
                # treat a table whose bucket the cap DROPPED as "did not
                # match" — on raw signatures, a pair capped in table 0
                # but co-bucketed in an uncapped table-1 bucket was
                # suppressed in every later table too, silently breaking
                # the 1-(1-p^P)^T recall model. Rebuild _sigs with
                # capped entries nulled (null == null is null, so the
                # zip_with agreement check skips them): one narrow
                # (id -> surviving-table map) aggregate over the
                # already-capped band, joined back by id — band rows
                # stay (id, T longs)-sized, vectors still never enter.
                surv = band.groupBy("_nid").agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("_t", "_bkt"))
                    ).alias("_surv")
                )
                band = (
                    band.join(surv, "_nid")
                    .withColumn(
                        "_sigs",
                        F.transform(
                            "_sigs",
                            lambda x, i: F.when(
                                F.element_at(F.col("_surv"), i).isNotNull(),
                                x,
                            ),
                        ),
                    )
                    .drop("_surv")
                )
        a = band.select(
            F.col("_nid").alias("id_a"), F.col("_sigs").alias("_sa"),
            "_t", "_bkt",
        )
        b = band.select(
            F.col("_nid").alias("id_b"), F.col("_sigs").alias("_sb"),
            "_t", "_bkt",
        )
        cand = (
            a.join(b, ["_t", "_bkt"])
            .filter(F.col("id_a") < F.col("id_b"))
            # first-shared-table single emission: no table i < t agreed
            .filter(
                F.size(
                    F.filter(
                        F.zip_with(
                            F.slice(F.col("_sa"), F.lit(1), F.col("_t")),
                            F.slice(F.col("_sb"), F.lit(1), F.col("_t")),
                            lambda x, y: x == y,
                        ),
                        lambda eq: eq,
                    )
                )
                == 0
            )
            .select("id_a", "id_b")
        )
        # per-SIDE norms + staged dot (r14 optimization round, guide §1.2):
        # `filter(sim >= t)` over a live V.cosine projection gets the full
        # expression substituted into the pushed Filter, so each surviving
        # candidate paid TEN interpreted array folds (norm(a)/norm(b) twice
        # each in the CASE guard and the division, plus the dot — in both
        # Filter and Project). Norms are now computed once per corpus row
        # in the join-side projections; only the dot rides the per-pair
        # expressions. Same operands, same order, same CASE guard — sim
        # values bit-identical (oracle-pinned).
        va = df.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("_va"),
            V.norm(F.col(vec_col)).alias("_na"),
        )
        vb = df.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("_vb"),
            V.norm(F.col(vec_col)).alias("_nb"),
        )
        staged = (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select(
                "id_a",
                "id_b",
                V.dot(F.col("_va"), F.col("_vb")).alias("_dot"),
                "_na",
                "_nb",
            )
        )
        _denom = F.col("_na") * F.col("_nb")
        _sim = F.when(_denom == 0, F.lit(0.0)).otherwise(
            F.col("_dot") / _denom
        )
        return staged.select("id_a", "id_b", _sim.alias("sim")).filter(
            F.col("sim") >= threshold
        )
    # the mode guard runs BEFORE any projection is built: the staged
    # per-side norm select analyzes eagerly, and on a no-mode misuse call
    # (e.g. a string column) Spark's AnalysisException would otherwise
    # pre-empt the contract's ValueError (caught by the opt-in guard test)
    if planes is None and not allow_crossjoin:
        raise ValueError(
            "embedding_neardup_pairs without `planes` or `tables` is an "
            "O(n²) cross join; pass `tables` (multi-table OR-construction, "
            "the recall-controlled scale path), `planes` (one bucketing) or "
            "opt in explicitly with allow_crossjoin=True for evaluation"
        )
    # per-side norms + staged dot: same verification-tail shape (and the
    # same bit-identity argument) as the tables mode above
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        V.norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        V.norm(F.col(vec_col)).alias("_nb"),
    )
    if planes is not None:
        a = a.withColumn("_bkt", V.random_hyperplane_signature(F.col("_va"), planes))
        b = b.withColumn("_bkt", V.random_hyperplane_signature(F.col("_vb"), planes))
        joined = a.join(b, "_bkt")
    else:
        joined = a.crossJoin(b)
    staged = joined.filter(F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        V.dot(F.col("_va"), F.col("_vb")).alias("_dot"),
        "_na",
        "_nb",
    )
    _denom = F.col("_na") * F.col("_nb")
    _sim = F.when(_denom == 0, F.lit(0.0)).otherwise(F.col("_dot") / _denom)
    return staged.select("id_a", "id_b", _sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplanes)
# ---------------------------------------------------------------------------


def make_hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> List[List[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def with_lsh_bucket(
    df: DataFrame, vec_col: str, planes: Sequence[Sequence[float]], out_col: str = "bucket"
) -> DataFrame:
    """Attach the hyperplane-sign bucket id (computed in the scan stage).
    Write the table partitioned/bucketed by this column to get partition
    pruning on probe."""
    return df.withColumn(out_col, V.random_hyperplane_signature(F.col(vec_col), planes))


def write_lsh_partitioned(
    df: DataFrame,
    vec_col: str,
    planes: Sequence[Sequence[float]],
    path: str,
    bucket_col: str = "bucket",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus hive-partitioned by its LSH bucket — the
    at-rest half of `lsh_topk_batch`'s `bucket_col` mode, mirroring
    `write_ivf_partitioned` (r11): signature computed ONCE at write
    time (`with_lsh_bucket`, the JVM form — authoritative thereafter,
    closing the numpy-vs-JVM boundary-dot caveat), one directory per
    bucket (2^n_planes of them — keep n_planes modest for a
    partitioned layout; bucketed tables suit wider signatures). A
    reader filtering on the bucket column (which `bucket_col=` mode
    does with a literal IN over the probed buckets) gets PARTITION
    PRUNING: a query batch reads its hamming-ball's files, not the
    corpus. Keep the planes with the layout — assignments are only
    valid for the planes they were computed from."""
    (
        with_lsh_bucket(df, vec_col, planes, out_col=bucket_col)
        .write.partitionBy(bucket_col)
        .mode(mode)
        .parquet(path)
    )


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    planes: Sequence[Sequence[float]],
    k: int = 10,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: scan only rows whose bucket is within
    `probe_hamming` bits of the query's bucket (multi-probe LSH), then exact
    cosine re-rank. Recall rises with probe_hamming; cost multiplies by
    C(n_planes, <=probe_hamming)."""
    n_planes = len(planes)
    qv = np.asarray(query, dtype=np.float64)
    qbits = 0
    for i, p in enumerate(planes):
        if float(np.dot(qv, np.asarray(p))) >= 0:
            qbits |= 1 << i

    from itertools import combinations

    probes = [qbits]
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(n_planes), h):
            flipped = qbits
            for b in bits:
                flipped ^= 1 << b
            probes.append(flipped)

    bucketed = with_lsh_bucket(df, vec_col, planes)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, id_col, vec_col, query, k)


def lsh_topk_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    planes: Sequence[Sequence[float]],
    k: int = 10,
    probe_hamming: int = 1,
    *,
    bucket_col: "str | None" = None,
) -> DataFrame:
    """Approximate top-k per query for a BATCH of query vectors through
    multi-probe hyperplane LSH — completing the batch ANN family
    (cosine_topk_batch = brute, ivf_topk_batch = coarse-quantized,
    this = hash-bucketed; r11).

    Driver-side (metadata-sized): each query's sign signature and its
    hamming-ball probe set (the same flip rule as lsh_topk, so a
    1-query batch probes the same buckets and returns its exact
    ranking, test-pinned) become a bucket → probing-queries map shipped
    in the closure. Spark-side: ONE Arrow mapInPandas computes each
    batch's signatures with a single rows × planes matmul + sign-pack
    (the ivf_topk_batch lesson applied ahead of time: the JVM
    per-plane fold is n_planes·dim interpreted lambda ops per row —
    the measured 100× bottleneck shape), drops rows in unprobed
    buckets, matmuls every remaining bucket block against only ITS
    probing queries (`_make_cosine_blocks`), and reduces to the shared
    tie-exact partial top-k (`_make_topk_worker`). One query-keyed
    exchange of k·batches rows per query, WindowGroupLimit window, no
    explode.

    Returns the exact cosine top-k OVER THE PROBED BUCKETS (the LSH
    approximation is the bucket choice, never the rerank). Boundary
    note: the numpy matmul and the JVM fold sum in different orders, so
    a dot product within float ulps of 0 could sign-flip a bucket vs
    `with_lsh_bucket`'s stored assignment — pass `bucket_col` for
    at-rest layouts (the stored assignment is then authoritative, the
    probed-buckets screen becomes a JVM scan filter, and a
    bucket-partitioned layout gets partition pruning, exactly the
    ivf cell_col contract). Measure recall on YOUR corpus with
    `ann_recall_estimate`; raise probe_hamming to trade cost for
    recall (C(n_planes, <=h) buckets per query)."""
    from itertools import combinations

    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    if probe_hamming < 0:
        raise ValueError(
            f"probe_hamming must be >= 0 (got {probe_hamming})"
        )
    pm = np.asarray(planes, dtype=np.float64)  # (P, dim)
    n_planes = len(pm)
    qm, qids = _query_batch(queries, query_ids)  # (Q, dim)
    qdots = qm @ pm.T  # (Q, P)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    qsig = ((qdots >= 0).astype(np.int64) @ weights)  # (Q,)
    flip_masks = [  # lsh_topk's probe order: distance 0, 1, ... bits
        sum(1 << b for b in bits)
        for h in range(probe_hamming + 1)
        for bits in combinations(range(n_planes), h)
    ]
    bucket_to_q = _queries_by_group(
        [[int(s) ^ m for m in flip_masks] for s in qsig]
    )

    if bucket_col is not None:
        src = df.filter(F.col(bucket_col).isin(list(bucket_to_q))).select(
            id_col, vec_col, F.col(bucket_col).cast("long").alias("_bkt")
        )
    else:
        src = df.select(id_col, vec_col)

    def signatures(m):
        import numpy as np

        return ((m @ pm.T) >= 0).astype(np.int64) @ weights

    blocks = _make_cosine_blocks(
        id_col, vec_col, qm, bucket_to_q, "_bkt", signatures
    )
    return _topk_per_query(src, id_col, "sim", k, qids, blocks)


def label_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    exact_grid: Optional[int] = None,
) -> DataFrame:
    """Per-label mean embedding → (label, dim, centroid) — the distributed
    centroid computation (class prototypes, cluster means for an IVF-style
    index built in-cluster rather than driver-side).

    Scale: posexplode is map-side (×dim rows, never shuffled raw) — partial
    aggregation collapses each partition to (labels × dim) running sums
    before the single hash exchange, so shuffle volume is index-sized, not
    data-sized.

    `exact_grid` (e.g. 2**20) quantizes each component to floor(v * grid)
    BEFORE summing: integer sums are order-independent, making the result
    bit-reproducible across engines/partitionings (the cross-engine
    verification mode; floor on identical doubles is tie-free, unlike any
    decimal rounding of a float). Default None averages full-precision
    doubles (last-bit summation-order noise, fine for real use)."""
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "_v"),
    )
    if exact_grid is None:
        agg = exploded.groupBy("label", "dim").agg(
            F.avg(F.col("_v").cast("double")).alias("centroid")
        )
        return agg
    scaled = exploded.withColumn(
        "_s", F.floor(F.col("_v").cast("double") * F.lit(exact_grid)).cast("long")
    )
    return scaled.groupBy("label", "dim").agg(
        (
            F.sum("_s").cast("double")
            / (F.count(F.lit(1)) * F.lit(float(exact_grid)))
        ).alias("centroid")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index
# ---------------------------------------------------------------------------


def ivf_centroids(
    df: DataFrame, vec_col: str, nlist: int = 16, seed: int = 42, sample: int = 4096
) -> "np.ndarray":
    """Coarse centroids via one k-means++-seeded Lloyd pass over a
    deterministic uniform sample — driver-side on ≤`sample` vectors (the
    index-build step; at 100 TB you'd run this once and persist).

    The sample orders by xxhash64 of the vector and takes the first
    `sample` rows: reproducible (pure function of the data, unlike a bare
    limit() partition prefix, which biases centroids toward whatever file
    happens to be scanned first), uniform under the hash, and executed as a
    distributed TakeOrdered — no global sort materialized.

    REGIME BOUND (r12, VERDICT r11 #7): the sample is the quality limit.
    Lloyd over `sample` points supports nlist only up to sample/~32 —
    below ~32 sample points per centroid the per-cell means are noise,
    and at nlist >= sample the construction degenerates (every point a
    centroid). Keep sample >= 32*nlist (raise `sample` — the driver cost
    is sample*dim doubles — or lower nlist), and for production indexes
    refine the sample-built centroids against the FULL corpus with
    `ivf_centroids_refine` (distributed Lloyd passes; one corpus scan +
    one nlist*dim-sized aggregate each).

    Returns at most nlist rows: a sample with fewer distinct vectors
    than nlist yields one centroid per distinct vector, so `nprobe`
    always counts distinct cells."""
    rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)).asc(), F.col(vec_col).asc())
        .limit(sample)
        .toPandas()[vec_col]
        .to_numpy()
    )
    m = np.stack(rows).astype(np.float64)
    rng = np.random.RandomState(seed)
    # k-means++ seeding with the INCREMENTAL D² update (r11): the naive
    # form recomputes min-over-all-centers each iteration —
    # O(nlist²·sample·dim), measured at 181.6 s for nlist=256 during the
    # r11 recall attestation. Only the newest center can lower a point's
    # min distance, so one np.minimum per iteration gives the same exact
    # values (min is exact in IEEE; the rng draw sequence is unchanged,
    # so centroids are BIT-IDENTICAL to the previous form — the planted
    # oracles' determinism argument carries over) at O(nlist·sample·dim).
    cents = [m[rng.randint(len(m))]]
    d2 = np.sum((m - cents[0]) ** 2, axis=1)
    for _ in range(nlist - 1):
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        nxt = m[rng.choice(len(m), p=probs)]
        cents.append(nxt)
        d2 = np.minimum(d2, np.sum((m - nxt) ** 2, axis=1))
    c = np.stack(cents)
    for _ in range(5):  # Lloyd iterations
        # per-centroid distance columns: same exact (x-c)² sums as the
        # broadcast form without its sample×nlist×dim temporary (537 MB
        # at 4096×256×64)
        dists = np.empty((len(m), nlist), dtype=np.float64)
        for j in range(nlist):
            dists[:, j] = ((m - c[j]) ** 2).sum(1)
        assign = np.argmin(dists, axis=1)
        for j in range(nlist):
            if (assign == j).any():
                c[j] = m[assign == j].mean(0)
    # a sample with fewer distinct vectors than nlist repeats centroids,
    # and every copy's cell stays empty (rows tie to the lower cell), so
    # a probe that counted one would waste a slot: keep each distinct
    # centroid once, in first-occurrence order
    _, first = np.unique(c, axis=0, return_index=True)
    return c[np.sort(first)]


def ivf_centroids_refine(
    df: DataFrame,
    vec_col: str,
    centroids: "np.ndarray",
    iterations: int = 1,
) -> "np.ndarray":
    """Distributed Lloyd refinement of IVF centroids over the FULL
    corpus (r12, VERDICT r11 #7) — the opt-in step past `ivf_centroids`'
    sample regime bound: when nlist approaches sample/32, per-cell means
    estimated from the sample are noise, but one full-corpus pass per
    iteration computes them exactly.

    Each iteration: (1) assign every row to its nearest centroid with
    `with_ivf_assignment` — JVM-side unrolled `l2_distance` argmin in
    the scan stage; (2) per-cell per-dimension means via posexplode →
    groupBy(cell, dim) — the `label_centroids` shape: the explode is
    rows×dim but hash-aggregate partials collapse it map-side, so the
    one exchange carries ~(partitions × nlist × dim) partial rows, never
    the corpus; (3) the driver collects exactly nlist×dim (sum, count)
    rows — index metadata, not data. Cells that receive no rows keep
    their previous centroid (the standard empty-cell rule, matching the
    sample-Lloyd loop above).

    A converged refinement is a FIXED POINT of assignment: once every
    centroid equals its cell's mean, further iterations return the same
    array (pinned in tests on planted clusters). Refined assignments are
    only meaningful against the refined centroids — rewrite any
    persisted `write_ivf_partitioned` layout after refining."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1 (got {iterations})")
    c = np.asarray(centroids, dtype=np.float64).copy()
    nlist, dim = c.shape
    for _ in range(int(iterations)):
        assigned = with_ivf_assignment(
            df.select(vec_col), vec_col, c, out_col="_cell"
        )
        rows = (
            assigned.select(
                "_cell", F.posexplode(F.col(vec_col)).alias("_d", "_x")
            )
            .groupBy("_cell", "_d")
            .agg(
                F.sum(F.col("_x").cast("double")).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        sums = np.zeros((nlist, dim), dtype=np.float64)
        counts = np.zeros(nlist, dtype=np.int64)
        for r in rows:
            sums[r["_cell"], r["_d"]] = r["_s"]
            counts[r["_cell"]] = r["_n"]
        mask = counts > 0
        c[mask] = sums[mask] / counts[mask, None]
    return c


def with_ivf_assignment(
    df: DataFrame, vec_col: str, centroids: "np.ndarray", out_col: str = "ivf_cell"
) -> DataFrame:
    """Assign each row to its nearest centroid (JVM-side: argmin over an
    unrolled centroid list — nlist is small by construction; r12: the
    centroids ride one lit_matrix + transform instead of nlist
    lambda-pair constructions, ~66 ms of driver time each — same
    per-element arithmetic, identical assignments)."""
    dists = F.transform(
        V.lit_matrix(np.asarray(centroids, dtype=np.float64)),
        lambda c: V.l2_distance(F.col(vec_col), c),
    )
    # staged distances (r14 optimization round, guide §1.2): the argmin
    # references `dists` twice (array_position + array_min), so the flat
    # form ran the nlist×dim distance transform TWICE per row; staging it
    # in its own projection (CollapseProject keeps non-cheap expressions
    # single-use) halves the assignment cost. Same distances, same
    # first-occurrence tie-break — assignments identical.
    staged = df.withColumn("_ifrit_ivf_d2", dists)
    d2 = F.col("_ifrit_ivf_d2")
    return staged.withColumn(
        out_col, F.array_position(d2, F.array_min(d2)).cast("int") - 1
    ).drop("_ifrit_ivf_d2")


def write_ivf_partitioned(
    df: DataFrame,
    vec_col: str,
    centroids: "np.ndarray",
    path: str,
    cell_col: str = "ivf_cell",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus hive-partitioned by its IVF cell — the at-rest
    half of `ivf_topk_batch`'s `cell_col` fast path as a shipped
    operation (r11): assignment computed ONCE at write time
    (`with_ivf_assignment`), one directory per cell. A reader that
    filters on the cell column (which `cell_col=` mode does with a
    literal IN over the probed cells) then gets PARTITION PRUNING — the
    unprobed cells' files are never listed into the scan, so at 100 TB a
    query batch reads only its probed cells' data, not the corpus
    (plan-pinned: PartitionFilters on the scan,
    tests/test_plans.py). Keep the centroids with the layout (they are
    the index metadata — nlist x dim floats); assignments are only valid
    for the centroids they were computed from."""
    (
        with_ivf_assignment(df, vec_col, centroids, out_col=cell_col)
        .write.partitionBy(cell_col)
        .mode(mode)
        .parquet(path)
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    centroids: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k probing the `nprobe` nearest IVF cells."""
    q = np.asarray(query, dtype=np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    cells = [int(c) for c in _probe_cells_batch(q[None, :], cents, nprobe)[0]]
    assigned = with_ivf_assignment(df, vec_col, centroids)
    cand = assigned.filter(F.col("ivf_cell").isin(cells))
    return cosine_topk(cand, id_col, vec_col, query, k)


def ivf_topk_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    centroids: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
    *,
    cell_col: "str | None" = None,
) -> DataFrame:
    """Approximate top-k per query for a BATCH of query vectors through
    the IVF index — the million-query retrieval-eval path where
    cosine_topk_batch's brute force pays rows × queries even though each
    query only needs its `nprobe` cells.

    Driver-side (metadata-sized): each query's nprobe nearest centroids
    (`_probe_cells_batch`, the same rule as ivf_topk, so a 1-query batch
    probes the same cells and returns its exact ranking, test-pinned)
    become a cell → probing-queries map shipped in the closure.
    Spark-side: ONE Arrow mapInPandas assigns each batch's rows to cells
    with a vectorized numpy argmin over exact (x-c)^2 sums — the same
    formula as with_ivf_assignment, so near-equidistant rows land in the
    same cell as the JVM path (NOT the unrolled JVM expression — at
    nlist·dim interpreted lambda ops per row that assignment dominated
    the whole query at 100×: 101 s vs 6 s measured, SCALE.md; the
    memory rule that >10 ops/element belongs in Arrow), drops rows in
    unprobed cells, then matmuls every remaining cell block against
    only ITS probing queries' submatrix (`_make_cosine_blocks`),
    reducing with the shared tie-exact partial top-k
    (`_make_topk_worker`) — so the union of partials contains the exact
    top-k OVER THE PROBED CELLS (the IVF approximation is the cell
    choice, never the reduction). One query-keyed exchange of
    k·batches rows per query, WindowGroupLimit window, no explode.

    `cell_col` is the at-rest fast path: persist the assignment once
    (`with_ivf_assignment` at write time) and partition/bucket the
    corpus by cell, then pass the column name — the probed-cells filter
    becomes a JVM scan filter (partition pruning on a cell-partitioned
    layout), rows outside the probed cells never reach Python, and the
    Arrow stage trusts the stored cell instead of recomputing it.

    Measured recall regime (r11 attestation, 200k x 64, full curve in
    SCALE.md): recall is a property of the CORPUS GEOMETRY, not the
    operator. On clustered data with nlist ~ the true cluster count,
    recall@10 = 0.975 at nprobe=1 and 1.0 at nprobe >= 2; over-
    segmenting (nlist 4x the cluster count) shifts the curve right
    (0.544 at nprobe=1, 1.0 at nprobe=8). On near-isotropic vectors
    recall stays low at any affordable nprobe (0.13-0.73 across
    nprobe 1-16 at nlist=64) — IVF's documented weak case; use
    cosine_topk_batch there until the corpus outgrows brute force.
    Don't guess which regime you are in: `ann_recall_estimate` measures
    it on YOUR corpus with one extra sampled brute-force pass."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    if nprobe <= 0:
        raise ValueError(f"nprobe must be positive (got {nprobe})")
    qm, qids = _query_batch(queries, query_ids)  # (Q, dim)
    cents = np.asarray(centroids, dtype=np.float64)
    cell_to_q = _queries_by_group(_probe_cells_batch(qm, cents, nprobe))

    if cell_col is not None:
        src = df.filter(F.col(cell_col).isin(list(cell_to_q))).select(
            id_col, vec_col, F.col(cell_col).cast("int").alias("_cell")
        )
    else:
        src = df.select(id_col, vec_col)

    def nearest_cells(m):
        import numpy as np

        # full (x - c)^2 sums, NOT the |c|^2 - 2 x.c expansion:
        # algebraically equal but numerically different, and the
        # expansion can flip near-equidistant rows into a different
        # cell than with_ivf_assignment's JVM formula (r10 ADVICE) —
        # breaking the docstring's 1-query-batch ≡ ivf_topk claim. One
        # vectorized pass per centroid (nlist is small by construction)
        # keeps memory at rows × dim; first-occurrence argmin matches
        # array_position's tie rule.
        d2 = np.empty((len(m), len(cents)), dtype=np.float64)
        for j in range(len(cents)):
            d2[:, j] = ((m - cents[j]) ** 2).sum(1)
        return np.argmin(d2, axis=1)

    blocks = _make_cosine_blocks(
        id_col, vec_col, qm, cell_to_q, "_cell", nearest_cells
    )
    return _topk_per_query(src, id_col, "sim", k, qids, blocks)


def ann_recall_estimate(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    approx: DataFrame,
    k: int = 10,
    n_sample: int = 32,
    seed: int = 42,
    metric: str = "cosine",
    truth: DataFrame = None,
) -> DataFrame:
    """Measured recall@k of an approximate ANN answer (`approx`: the
    output of ivf_topk_batch / lsh_topk-shaped frames — (query_id,
    id_col, sim); with metric="l2", distance-tier frames like
    pq_topk_rerank_batch's (query_id, id_col, dist), measured against
    exact l2_topk_batch truth with (dist asc, id asc) ranking — the
    PQ/IVF-PQ tier ranks by L2, so its recall must be measured in its
    own metric) against sampled brute-force ground truth — the
    VERDICT r10 #3 helper that makes nprobe/nlist pickable empirically:
    recall on isotropic vs clustered corpora differs by >2x (SCALE.md
    r11 curve), so shipped guidance is "measure on YOUR corpus with
    this one extra pass", not a constant.

    Cost model, by construction: ONE extra corpus pass — a determinis-
    tic `n_sample`-query sub-batch (seeded choice over the query ids,
    not the corpus) through cosine_topk_batch, whose worker-local
    partial top-k makes the pass rows x n_sample matmul work with a
    k·n_sample-row exchange; everything after is metadata-sized
    (n_sample·k rows joined against the approx answer). Output: one row
    per sampled query — (query_id, n_truth, n_hit, recall_micro) with
    recall in exact integer micro-units (n_hit·1e6 div n_truth; the
    suite's cross-engine convention), n_truth = |truth top-k| (< k only
    when the corpus itself is smaller). Ground truth is the
    deterministic (sim desc, id asc) tie-broken top-k — an approx
    answer returning a different-but-equal-sim document counts as a
    miss, the standard strict-set recall@k definition; mean recall =
    avg(recall_micro)/1e6 over the returned rows.

    `truth` (r14, ADVICE r13): a precomputed ground-truth frame —
    (query_id, id_col, sim|dist) for EXACTLY this (queries, query_ids,
    k, n_sample, seed, metric) sampling — skips the brute-force corpus
    pass. The caller promises identity; `ann_advise` is the intended
    caller (it computes the sampled truth ONCE and reuses it across
    the whole candidate sweep instead of re-paying the pass per
    config)."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    if n_sample <= 0:
        raise ValueError(f"n_sample must be positive (got {n_sample})")
    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown metric {metric!r} (cosine | l2)")
    sample_q, sample_ids = _sample_queries(
        *_query_batch(queries, query_ids), n_sample, seed
    )
    if truth is None:
        truth_kernel = (
            cosine_topk_batch if metric == "cosine" else l2_topk_batch
        )
        truth = truth_kernel(df, id_col, vec_col, sample_q, sample_ids, k=k)
    else:
        # r14 review fix: the precomputed-truth contract is exact-
        # sampling identity; a caller mismatch (different seed or
        # n_sample) would leave unmatched truth queries scoring
        # n_hit=0 and silently drag the mean toward 0. The check is a
        # bounded collect — truth is n_sample·k rows by contract.
        got = {
            r[0] for r in truth.select("query_id").distinct().collect()
        }
        if got != set(sample_ids):
            raise ValueError(
                "precomputed truth= covers query_ids "
                f"{sorted(got)[:8]}… but this (queries, query_ids, "
                f"n_sample={n_sample}, seed={seed}) sampling selects "
                f"{sorted(set(sample_ids))[:8]}… — recompute truth with "
                "the same sampling (ann_advise does this internally)"
            )
    # rank-limit the approx answer to k rows per query by the suite's
    # deterministic (sim desc, id asc) order before the hit join: an
    # approx frame produced with a larger k — or a union of several
    # answers — would otherwise silently inflate recall@k (r12, ADVICE
    # r11). Duplicate (query_id, id) rows collapse to their best sim
    # BEFORE the rank-limit (ADVICE r12): ranking first let duplicates
    # occupy top-k slots, silently UNDERestimating recall for exactly
    # the union-of-answers input the limit exists for. Frames already
    # at k distinct ids pass through unchanged.
    score = "sim" if metric == "cosine" else "dist"
    best = F.max(score) if metric == "cosine" else F.min(score)
    approx_ids = _rank_per_query(
        approx.filter(F.col("query_id").isin(sample_ids))
        .groupBy("query_id", id_col)
        .agg(best.alias(score)),
        id_col, score, k,
    ).select("query_id", id_col)
    hit = F.sum(
        F.when(F.col("_hit").isNotNull(), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return (
        truth.join(
            # approx_ids is already distinct per (query_id, id): the
            # pre-rank groupBy above collapsed duplicates
            approx_ids.withColumn("_hit", F.lit(1)),
            ["query_id", id_col],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            hit.alias("n_hit"),
        )
        .select(
            "query_id",
            "n_truth",
            "n_hit",
            F.expr("CAST((n_hit * 1000000) div n_truth AS BIGINT)").alias(
                "recall_micro"
            ),
        )
    )


def knn_join_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    *,
    n_planes: int = 8,
    rotations: int = 3,
    seed: int = 42,
    max_bucket: int = 2000,
) -> DataFrame:
    """Approximate KNN self-join: for every row, its top-k cosine
    neighbors among rows sharing a hyperplane-LSH bucket in at least one
    of `rotations` independent plane sets. Returns (id, nbr_id, sim,
    rank). The each-to-each companion of `lsh_topk` (which serves one
    query vector) — what embedding-dedup graph building and
    hard-negative mining actually run.

    Recall: two vectors at cosine s share one 8-plane bucket with
    p₁ = (1 − arccos(s)/π)⁸ (≈0.57 at s=0.95); across r independent
    rotations recall is 1 − (1 − p₁)^r (≈0.92 at r=3) — pinned vs brute
    force in tests. Raise `rotations` for more recall, linearly more
    candidate volume.

    Scale: candidate generation shuffles (rotation, bucket, id) only —
    vectors never enter the candidate join (minhash-pairs rule);
    degenerate buckets (zero-ish vectors, template embeddings) are
    capped at `max_bucket` per (rotation, bucket); cosine runs once per
    distinct candidate pair; the final per-id top-k is a WindowGroupLimit
    window. No cross join exists on any path."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    from pyspark.sql import Window

    # bounded plan-time action (1 row) to size the hyperplanes — same
    # documented pattern as the IVF centroid build; not a per-row collect
    dim = len(df.select(vec_col).first()[0])
    bucket_sets = [
        make_hyperplanes(dim, n_planes, seed + r) for r in range(rotations)
    ]
    buckets = F.array(
        *[
            V.random_hyperplane_signature(F.col(vec_col), planes)
            for planes in bucket_sets
        ]
    )
    keys = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(buckets).alias("_rot", "_bkt"),
    )
    if max_bucket is not None:
        w = Window.partitionBy("_rot", "_bkt")
        keys = (
            keys.withColumn("_n", F.count("*").over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    cand = (
        keys.select("_rot", "_bkt", F.col("_id").alias("id"))
        .join(
            keys.select("_rot", "_bkt", F.col("_id").alias("nbr_id")),
            ["_rot", "_bkt"],
        )
        .filter(F.col("id") != F.col("nbr_id"))
        .select("id", "nbr_id")
        .distinct()
    )
    # per-side norms (r14 optimization round, guide §1.2): V.cosine's CASE
    # guard + division evaluated norm(_va)/norm(_vb) twice each per
    # candidate pair; computing them once per corpus row in the side
    # projections leaves only the dot per pair — same operands, same
    # order, bit-identical sims
    va = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_va"),
        V.norm(F.col(vec_col)).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("_vb"),
        V.norm(F.col(vec_col)).alias("_nb"),
    )
    _denom = F.col("_na") * F.col("_nb")
    scored = (
        cand.join(va, "id")
        .join(vb, "nbr_id")
        .select(
            "id",
            "nbr_id",
            V.dot(F.col("_va"), F.col("_vb")).alias("_dot"),
            "_na",
            "_nb",
        )
        .withColumn(
            "sim",
            F.when(_denom == 0, F.lit(0.0)).otherwise(
                F.col("_dot") / _denom
            ),
        )
    )
    wk = Window.partitionBy("id").orderBy(
        F.col("sim").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("id", "nbr_id", "sim", "rank")
    )


def label_entropy(df: DataFrame, label_col: str = "label") -> DataFrame:
    """Shannon entropy (nats) of the label distribution — the class-balance
    check before training on a labeled table (0 = degenerate single
    class, ln(k) = perfectly balanced over k classes). One tiny
    aggregation; ratios of exact integer counts."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("_n"))
    tot = counts.agg(F.sum("_n").alias("_t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "_p", F.col("_n").cast("double") / F.col("_t").cast("double")
        )
        .agg(
            (-F.sum(F.col("_p") * F.log(F.col("_p")))).alias("entropy"),
            F.count(F.lit(1)).alias("n_classes"),
            F.first("_t").alias("n_rows"),
        )
    )


def label_dispersion(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label embedding dispersion: the mean per-dimension sample
    variance of the label's vectors — the cluster-tightness signal (a
    label whose embeddings barely vary is near-duplicate content or a
    collapsed embedding space; compare against the global figure).

    Scale: posexplode is scan-stage; ONE (label, dim) aggregation with
    map-side moment partials, then a label-sized rollup. Vectors never
    shuffle whole — only (label, dim, partial-moment) rows."""
    dims = df.select(
        F.col(label_col).alias("_l"),
        F.posexplode(F.col(vec_col)).alias("_d", "_v"),
    )
    per_dim = dims.groupBy("_l", "_d").agg(
        F.var_samp(F.col("_v").cast("double")).alias("_var")
    )
    return per_dim.groupBy(F.col("_l").alias(label_col)).agg(
        F.avg("_var").alias("mean_dim_variance"),
        F.count(F.lit(1)).alias("n_dims"),
    )


def mmr_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[int],
    k: int = 5,
    *,
    rel_weight: int = 7,
    div_weight: int = 3,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
    diversified top-k — each step selects the candidate maximizing
    rel_weight·dot(query, x) − div_weight·max_{s∈selected} dot(x, s),
    ties broken toward the LOWEST id.

    INTEGER-EXACT contract: similarities are raw DOT PRODUCTS over
    integer vectors, weights are integers, so every score is an exact
    int64 and the selection sequence is bit-reproducible on any engine
    (the planted oracle unrolls the same greedy argmax). Dot ranks
    identically to cosine when all vectors share one norm — feed
    normalized-then-quantized embeddings, or any planted equal-norm
    family; with mixed norms this is dot-MMR, documented.

    100 TB design: k driver-bounded iterations (the bpe_train/kmeans
    contract — k is a model constant), each one scan + TakeOrdered(1);
    step j recomputes j dots per candidate, so total work is
    O(k²·n·dim) with NO shuffle beyond the 1-row gathers. Returns
    (rank, id, score) in selection order."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if rel_weight < 0 or div_weight < 0:
        raise ValueError("weights must be nonnegative")
    q = F.array(*[F.lit(int(x)).cast("long") for x in query])
    vec = F.col(vec_col)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    base = df.select(F.col(id_col).alias("_id"), vec.alias("_v")).withColumn(
        "_rel", dot(F.col("_v"), q)
    )
    selected: list = []  # [(id, vector-as-list, score)]
    for step in range(k):
        cand = base
        for sid, svec, _ in selected:
            cand = cand.filter(F.col("_id") != sid)
        score = F.col("_rel") * rel_weight
        if selected:
            sims = F.array(
                *[
                    dot(
                        F.col("_v"),
                        F.array(*[F.lit(int(x)).cast("long") for x in sv]),
                    )
                    for _, sv, _ in selected
                ]
            )
            score = score - F.array_max(sims) * div_weight
        top = (
            cand.withColumn("_score", score)
            .orderBy(F.col("_score").desc(), F.col("_id").asc())
            .limit(1)
            .select("_id", "_v", "_score")
            .collect()
        )
        if not top:
            break
        r = top[0]
        selected.append((r["_id"], list(r["_v"]), r["_score"]))
    spark = df.sparkSession
    # explicit schema: createDataFrame cannot infer from an empty
    # selection (k > 0 on an empty corpus must return 0 rows, not raise)
    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType()),
            T.StructField(id_col, id_type),
            T.StructField("score", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [(i, sid, int(sc)) for i, (sid, _, sc) in enumerate(selected)],
        schema,
    )


# ---------------------------------------------------------------------------
# PQ (product quantization) — compressed-domain ANN (r12)
# ---------------------------------------------------------------------------


def pq_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    sample: int = 4096,
    lloyd: int = 5,
) -> "np.ndarray":
    """Product-quantization codebooks, (m, k, dim/m): split each vector
    into `m` equal subspaces and k-means each subspace independently
    (Jégou et al. 2011) — the compression tier of the ANN family. A
    vector then stores as m small codes (m bytes at k<=256) instead of
    dim floats: 64-dim float32 → 8 codes is a 32× memory collapse, the
    difference between a rerank working set that fits executor memory
    at 100 TB and one that does not.

    Same index-build discipline as `ivf_centroids`: deterministic
    xxhash64 sample (distributed TakeOrdered, reproducible), driver-side
    incremental-D² k-means++ seeding + `lloyd` Lloyd passes per
    subspace, and the same regime bound — keep sample >= 32*k. dim must
    divide evenly by m."""
    rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)).asc(), F.col(vec_col).asc())
        .limit(sample)
        .toPandas()[vec_col]
        .to_numpy()
    )
    mtx = np.stack(rows).astype(np.float64)
    dim = mtx.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    if k < 1 or len(mtx) < k:
        raise ValueError(f"need sample >= k centers (k={k}, sample={len(mtx)})")
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, sub), dtype=np.float64)
    for s in range(m):
        ms = mtx[:, s * sub:(s + 1) * sub]
        cents = [ms[rng.randint(len(ms))]]
        d2 = ((ms - cents[0]) ** 2).sum(1)
        for _ in range(k - 1):
            probs = d2 / d2.sum() if d2.sum() > 0 else None
            nxt = ms[rng.choice(len(ms), p=probs)]
            cents.append(nxt)
            d2 = np.minimum(d2, ((ms - nxt) ** 2).sum(1))
        c = np.stack(cents)
        for _ in range(lloyd):
            dists = np.empty((len(ms), k), dtype=np.float64)
            for j in range(k):
                dists[:, j] = ((ms - c[j]) ** 2).sum(1)
            assign = dists.argmin(1)
            for j in range(k):
                if (assign == j).any():
                    c[j] = ms[assign == j].mean(0)
        books[s] = c
    return books


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: "np.ndarray",
    out_col: str = "pq_code",
) -> DataFrame:
    """Attach the PQ code array (array<int>, one nearest-center index
    per subspace) — JVM-side in the scan stage: per subspace an
    unrolled squared-distance argmin over the k centers (the
    with_ivf_assignment pattern per slice; ties break to the LOWEST
    center index via array_position-of-min, deterministic). Persist the
    coded table (ideally alongside an IVF cell column) and the rerank
    working set is m ints per row instead of the vector."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = books.shape
    # per-subspace distance arrays STAGED in one projection (r14
    # optimization round, guide §1.2): each code's argmin references its
    # dists twice (array_position + array_min), so the flat form ran every
    # k-center distance transform TWICE per row — 2·m·k subspace folds.
    # Staging halves that; distances, tie-breaks and codes are identical.
    def _subspace_dists(sl, book):
        # r12: the k centers ride one lit_matrix + transform per
        # subspace (not k lambda-pair constructions) — same arithmetic,
        # identical codes, m+constant py4j calls instead of m*k.
        # (Closure factory, NOT a default-arg lambda: a two-parameter
        # lambda would be read by F.transform as its (element, index)
        # form.)
        return F.transform(
            V.lit_matrix(book),
            lambda c: F.aggregate(
                F.zip_with(
                    sl, c, lambda x, y: (x.cast("double") - y) ** 2
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )

    staged_cols = {}
    for s in range(m):
        sl = F.slice(F.col(vec_col), s * sub + 1, sub)
        staged_cols[f"_ifrit_pqd{s}"] = _subspace_dists(sl, books[s])
    staged = df.withColumns(staged_cols)
    codes = []
    for s in range(m):
        d = F.col(f"_ifrit_pqd{s}")
        codes.append(
            (F.array_position(d, F.array_min(d)) - 1).cast("int")
        )
    return staged.withColumn(out_col, F.array(*codes)).drop(*staged_cols)


def pq_topk(
    df: DataFrame,
    id_col: str,
    code_col: str,
    query: Sequence[float],
    codebooks: "np.ndarray",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by ASYMMETRIC DISTANCE (ADC, Jégou et al.
    2011): the query stays exact, every corpus vector is represented by
    its PQ code, and distance = Σ_s lut[s][code_s] where the m×k lookup
    table ||q_s − c_sj||² is computed ONCE on the driver (index
    metadata) and unrolled into the plan as literal arrays. The scan
    touches only (id, code) — never the vectors — each row costs m
    element_at lookups + a sum, and the top-k is TakeOrdered (dist asc,
    id asc). Returns (id, dist) with dist = the ADC squared distance.

    This is the 100 TB rerank shape: IVF prunes cells, PQ codes rank
    the surviving millions from bytes, and only the final k (or a
    small multiple, for an exact re-check against the stored vectors)
    ever touches full-width data."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    books = np.asarray(codebooks, dtype=np.float64)
    m, kk, sub = books.shape
    q = np.asarray(list(query), dtype=np.float64)
    if len(q) != m * sub:
        raise ValueError(
            f"query dim {len(q)} != codebook dim {m * sub} (m={m}, sub={sub})"
        )
    lut = ((books - q.reshape(m, 1, sub)) ** 2).sum(-1)  # (m, k)
    dist = None
    for s in range(m):
        term = F.element_at(
            V.lit_vector([float(x) for x in lut[s]]),
            F.element_at(F.col(code_col), s + 1) + 1,
        )
        dist = term if dist is None else dist + term
    return (
        df.select(F.col(id_col), dist.alias("dist"))
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    code_col: str,
    query: Sequence[float],
    codebooks: "np.ndarray",
    centroids: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011, the composed form): prune to the
    `nprobe` nearest cells' rows by the STORED cell column, then
    ADC-rank the survivors from their PQ codes — the standard
    billion-scale ANN index expressed as two existing pieces.

    `df` is the coded table carrying `cell_col` (from
    `with_ivf_assignment`, ideally persisted via `write_ivf_partitioned`
    so the cell filter compiles to PartitionFilters and the scan reads
    only the probed cells' files) and `code_col` (from `pq_encode`).
    The probe set is `_probe_cells_batch`'s driver-side stable argsort
    over nlist centroid distances (equal distances probe the lowest
    cell index first); the ADC scan then touches (id, code) for the
    probed cells only. At 100 TB: partition-pruned file reads ×
    32-fold-compressed rerank rows, with `pq_topk`'s exact-recheck
    guidance on the final k·c candidates."""
    cents = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(list(query), dtype=np.float64)
    if nprobe < 1:
        raise ValueError(f"nprobe must be positive (got {nprobe})")
    probe = _probe_cells_batch(q[None, :], cents, nprobe)[0]
    pruned = df.filter(F.col(cell_col).isin([int(c) for c in probe]))
    return pq_topk(pruned, id_col, code_col, query, codebooks, k)


def pq_topk_batch(
    df: DataFrame,
    id_col: str,
    code_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    codebooks: "np.ndarray",
    k: int = 10,
) -> DataFrame:
    """ADC top-k per query for a BATCH of query vectors — completing the
    batch ANN family (cosine_topk_batch = brute, lsh/ivf_topk_batch =
    pruned, this = compressed-domain; r12). Returns (query_id, id,
    dist) with dist ascending per query.

    Driver-side: the (Q, m, k) lookup-table tensor — query metadata,
    not data. Each Arrow batch gathers its (B, m) code matrix against
    the LUT (m numpy gathers, no matmul) and reduces with the shared
    tie-exact partial top-k (`_make_topk_worker`, dist asc, id asc), so
    duplicate codes cannot flip the returned set. The one exchange
    carries k rows per query per batch."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    books = np.asarray(codebooks, dtype=np.float64)
    m, nk, sub = books.shape
    qm, qids = _query_batch(queries, query_ids)  # (Q, dim)
    if qm.shape[1] != m * sub:
        raise ValueError(
            f"query dim {qm.shape[1]} != codebook dim {m * sub} "
            f"(m={m}, sub={sub})"
        )
    luts = (
        (books[None, :, :, :] - qm.reshape(len(qm), m, 1, sub)) ** 2
    ).sum(-1)  # (Q, m, k)
    allq = np.arange(len(qm))

    def blocks(pdf):
        import numpy as np

        codes = np.stack(pdf[code_col].to_numpy()).astype(np.int64)
        # accumulate in (Q, B) layout — luts[:, s, codes[:, s]] is a
        # contiguous row gather; one transpose at the end instead of
        # m transposed copies
        dq = np.zeros((luts.shape[0], len(pdf)), dtype=np.float64)
        for s in range(m):
            dq += luts[:, s, codes[:, s]]
        yield pdf[id_col].to_numpy(), allq, dq.T  # (B, Q)

    return _topk_per_query(
        df.select(id_col, code_col), id_col, "dist", k, qids, blocks
    )


def pq_topk_rerank(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    code_col: str,
    query: Sequence[float],
    codebooks: "np.ndarray",
    k: int = 10,
    overfetch: int = 4,
) -> DataFrame:
    """ADC shortlist → exact re-check, as one operation (r12): `pq_topk`
    over the codes fetches k·overfetch candidates, then ONLY those rows'
    full vectors are read back (a broadcast-joinable k·overfetch-row id
    list against the corpus) and re-ranked by the EXACT squared L2
    distance — the metric ADC approximates, so the rerank corrects
    quantization error in place. Returns (id, dist) with dist the exact
    squared distance, (dist asc, id asc) top-k.

    Recall contract: exact within the shortlist — a true neighbor whose
    ADC rank fell past k·overfetch stays lost; raise `overfetch` (the
    cost is the shortlist join width) or measure with
    ann_recall_estimate. Scan-layer truth (r14 correction): the ADC
    pass reads (id, code) only, and the rerank JOIN keeps k·overfetch
    rows — but the join-back SCANS the whole vector column past the
    broadcast hash. For the scan to be candidate-sized too, use
    `pq_topk_rerank_batch(pushdown_ids=True)` over a sorted/z-ordered
    layout (a 1-query batch equals this function exactly)."""
    if overfetch < 1:
        raise ValueError(f"overfetch must be >= 1 (got {overfetch})")
    cand = pq_topk(
        df.select(id_col, code_col), id_col, code_col, query, codebooks,
        k=int(k) * int(overfetch),
    ).select(id_col)
    q = np.asarray(list(query), dtype=np.float64)
    exact = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            V.lit_vector(q),
            lambda x, y: (x.cast("double") - y) ** 2,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        df.join(F.broadcast(cand), id_col)
        .select(F.col(id_col), exact.alias("dist"))
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_distortion_stats(
    df: DataFrame,
    vec_col: str,
    code_col: str,
    codebooks: "np.ndarray",
) -> DataFrame:
    """Codebook quality in one corpus pass (r12): per-row reconstruction
    error ||v − decode(code)||² aggregated to (n_rows, mean_sq_error,
    max_sq_error, mean_norm_sq) — the measurement that decides m/k
    BEFORE committing a 100 TB encode (the ann_recall_estimate role for
    PQ). Reconstruction is JVM-side: each subspace's center rides the
    lit_matrix literal and element_at picks it by the stored code; the
    aggregate is map-side-partial, nothing shuffles but one state row
    per partition. mean_sq_error / mean_norm_sq is the relative
    distortion; on a codebook-grid corpus it is exactly 0."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = books.shape
    err = None
    for s in range(m):
        sl = F.slice(F.col(vec_col), s * sub + 1, sub)
        center = F.element_at(
            V.lit_matrix(books[s]),
            F.element_at(F.col(code_col), s + 1) + 1,
        )
        term = F.aggregate(
            F.zip_with(sl, center, lambda x, y: (x.cast("double") - y) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        err = term if err is None else err + term
    norm_sq = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    return df.select(err.alias("_e"), norm_sq.alias("_n")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg("_e").alias("mean_sq_error"),
        F.max("_e").alias("max_sq_error"),
        F.avg("_n").alias("mean_norm_sq"),
    )


def with_ivf_residual(
    df: DataFrame,
    vec_col: str,
    centroids: "np.ndarray",
    cell_col: str = "ivf_cell",
    out_col: str = "residual",
) -> DataFrame:
    """Attach the IVF residual (vector − its cell's centroid), JVM-side:
    the centroid rides the lit_matrix literal, element_at picks it by
    the stored cell, zip_with subtracts in the scan stage. Train PQ
    codebooks ON residuals (`pq_codebooks(..., 'residual')`) and encode
    the residual column: residual magnitudes are the within-cell spread
    — typically far smaller than raw vectors — so the same code budget
    buys proportionally finer quantization (the IVF-PQ construction;
    measured recovery on the r12 attestation geometry in SCALE.md)."""
    cents = np.asarray(centroids, dtype=np.float64)
    center = F.element_at(V.lit_matrix(cents), F.col(cell_col) + 1)
    return df.withColumn(
        out_col,
        F.zip_with(
            F.col(vec_col), center, lambda x, y: x.cast("double") - y
        ),
    )


def ivf_pq_topk_residual(
    df: DataFrame,
    id_col: str,
    code_col: str,
    query: Sequence[float],
    codebooks: "np.ndarray",
    centroids: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """IVF-PQ over RESIDUAL codes (r12): prune to the nprobe nearest
    cells, then ADC-rank with a PER-CELL lookup table — for a row in
    cell c, dist ≈ ||(q − centroid_c) − decode(code)||², so the table
    is built from the query's residual against that cell. All tables
    (nprobe × m × k doubles) are driver-built index metadata unrolled
    as one 2-D literal; the row's table is picked by array_position of
    its stored cell, and the scan still touches only (id, cell, code).

    `df` carries `cell_col` (with_ivf_assignment / the
    write_ivf_partitioned layout — the cell IN filter compiles to
    PartitionFilters there) and `code_col` = pq_encode over the
    `with_ivf_residual` column with residual-trained codebooks."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    if nprobe < 1:
        raise ValueError(f"nprobe must be positive (got {nprobe})")
    books = np.asarray(codebooks, dtype=np.float64)
    m, nk, sub = books.shape
    cents = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(list(query), dtype=np.float64)
    if len(q) != m * sub:
        raise ValueError(
            f"query dim {len(q)} != codebook dim {m * sub} (m={m}, sub={sub})"
        )
    probe = [int(c) for c in _probe_cells_batch(q[None, :], cents, nprobe)[0]]
    # per-cell flattened LUT rows: lut[c][s*nk + j] = ||(q - cent_c)_s - books[s][j]||^2
    luts = []
    for c in probe:
        qr = (q - cents[c]).reshape(m, 1, sub)
        luts.append(((books - qr) ** 2).sum(-1).reshape(m * nk))
    pos = F.array_position(
        F.expr("array(" + ",".join(str(c) for c in probe) + ")"),
        F.col(cell_col),
    )
    row_lut = F.element_at(V.lit_matrix(np.stack(luts)), pos.cast("int"))
    dist = None
    for s in range(m):
        term = F.element_at(
            row_lut, F.lit(s * nk) + F.element_at(F.col(code_col), s + 1) + 1
        )
        dist = term if dist is None else dist + term
    return (
        df.filter(F.col(cell_col).isin(probe))
        .select(F.col(id_col), dist.alias("dist"))
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk_residual_batch(
    df: DataFrame,
    id_col: str,
    code_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    codebooks: "np.ndarray",
    centroids: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Residual IVF-PQ for a BATCH of queries (r12) — the production
    shape the single-query form's plan-size note points to: per-query
    LUT literals grow nprobe·m·k, but here every lookup table lives in
    the closure as ONE numpy tensor and the plan stays constant-sized.

    Driver-side: each query's nprobe nearest cells
    (`_probe_cells_batch` — a 1-query batch probes the same cells as
    ivf_pq_topk_residual and returns its exact ranking, test-pinned)
    become a cell → (probing-query indices, per-query LUT tensor) map;
    LUT[s][j] = ||(q − centroid_cell)_s − books[s][j]||². Spark-side:
    one Arrow mapInPandas over (id, cell, code) — rows in unprobed cells
    drop, each cell block gathers its codes against only ITS probing
    queries' LUTs (m numpy gathers, no matmul), then reduces with the
    shared tie-exact partial top-k (`_make_topk_worker`, dist asc, id
    asc). One exchange of k rows per query per batch, WindowGroupLimit
    window. The union of probed cells is pushed as an IN filter BELOW
    the Arrow stage by the operator itself (r13 — the pre-r13 form
    delegated it to the caller, so over a write_ivf_pq_partitioned
    layout the scan listed EVERY cell's files): semantically a no-op,
    but it compiles to PartitionFilters on the stored layout, restoring
    the 1/nlist file pruning."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    if nprobe < 1:
        raise ValueError(f"nprobe must be positive (got {nprobe})")
    books = np.asarray(codebooks, dtype=np.float64)
    m, nk, sub = books.shape
    cents = np.asarray(centroids, dtype=np.float64)
    qm, qids = _query_batch(queries, query_ids)
    if qm.shape[1] != m * sub:
        raise ValueError(
            f"query dim {qm.shape[1]} != codebook dim {m * sub} "
            f"(m={m}, sub={sub})"
        )
    probe = _probe_cells_batch(qm, cents, nprobe)
    cell_luts = {}
    for c, qidx in _queries_by_group(probe).items():
        qr = qm[qidx] - cents[c]  # (nq_c, dim)
        # (nq_c, m, k): per probing query, per subspace, per center
        cell_luts[c] = (
            qidx,
            ((books[None, :, :, :]
              - qr.reshape(len(qidx), m, 1, sub)) ** 2).sum(-1),
        )
    # the probed-cells IN filter below the Arrow stage (r13, see the
    # docstring): PartitionFilters over a write_ivf_pq_partitioned layout
    src = df.filter(F.col(cell_col).isin(sorted(cell_luts))).select(
        id_col, cell_col, code_col
    )

    def blocks(pdf):
        import numpy as np

        cells = pdf[cell_col].to_numpy()
        codes = np.stack(pdf[code_col].to_numpy()).astype(np.int64)
        ids = pdf[id_col].to_numpy()
        for c in np.unique(cells):
            got = cell_luts.get(int(c))
            if got is None:
                continue  # unprobed cell
            qidx, luts = got  # luts: (nq, m, k)
            sel = np.nonzero(cells == c)[0]
            cc = codes[sel]  # (B_c, m)
            dq = np.zeros((len(qidx), len(sel)), dtype=np.float64)
            for s in range(m):
                dq += luts[:, s, cc[:, s]]
            yield ids[sel], qidx, dq.T  # (B_c, nq)

    return _topk_per_query(src, id_col, "dist", k, qids, blocks)


def write_ivf_pq_partitioned(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "np.ndarray",
    codebooks: "np.ndarray",
    path: str,
    *,
    residual: bool = True,
    keep_vector: bool = False,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    mode: str = "overwrite",
    store_metadata: bool = True,
) -> None:
    """Persist the composed at-rest ANN index (r12): assign cells,
    (residual-)PQ-encode, write hive-partitioned by cell — so an
    `ivf_pq_topk_residual[_batch]` reader gets BOTH prunings at once:
    the probed-cells IN filter compiles to PartitionFilters (unprobed
    cells' files never listed) and each surviving row is m code bytes,
    not dim floats. `keep_vector=True` additionally stores the vector
    column for `pq_topk_rerank`-style exact re-checks — the layout
    then trades scan width for shortlist locality. Keep centroids AND
    codebooks with the layout (index metadata); codes are only valid
    for the codebooks (and, in residual mode, centroids) they were
    computed from. `residual=False` writes raw-vector codes for plain
    `pq_topk`/`pq_topk_batch` over a cell-pruned scan (`ivf_pq_topk`).

    `mode="append"` is the index-FRESHNESS path (r14): new rows are
    assigned and encoded with the SAME frozen metadata and land as new
    files inside their cells' partitions — readers see the union with
    unchanged probe plans (append ≡ one-shot rewrite on values,
    test-pinned), and no retraining happens by construction. The price
    is drift (appended rows sit farther from the frozen centroids as
    the distribution moves) and per-cell small files: measure the
    former with `ivf_cell_health` against its build-time value and
    rebuild on SLO breach; compact the latter cell-by-cell (rewrite a
    partition directory — appends never touch existing files).

    `store_metadata=True` (default) writes `<path>/_ifrit_index.json` —
    the centroids/codebooks/config the codes are valid for, making the
    layout self-describing (`read_ivf_pq_index` / `ivf_pq_query`); the
    underscore prefix keeps it out of every data listing. An APPEND
    whose metadata differs from the stored sidecar is REFUSED before
    any data is written: mixed-codebook cells would silently mis-rank
    every future ADC probe, the one corruption an at-rest index cannot
    detect after the fact."""
    spark = df.sparkSession
    if mode == "append" and store_metadata:
        import json as _json

        # r14 review fix: detect "no sidecar yet" with an explicit
        # existence check, NOT a broad except — a transient read error
        # or corrupt sidecar must FAIL the append, not silently disable
        # the mixed-metadata refusal this guard exists for
        if _hadoop_exists(spark, f"{path}/{_INDEX_SIDECAR}"):
            existing = _json.loads(
                _hadoop_read_text(spark, f"{path}/{_INDEX_SIDECAR}")
            )
        else:
            existing = None  # pre-sidecar layout or first write
        if existing is not None:
            same = (
                existing.get("residual") == bool(residual)
                and existing.get("keep_vector") == bool(keep_vector)
                and existing.get("id_col") == id_col
                and existing.get("vec_col") == vec_col
                and existing.get("cell_col") == cell_col
                and existing.get("code_col") == code_col
                and np.array_equal(
                    np.asarray(existing.get("centroids"), dtype=np.float64),
                    np.asarray(centroids, dtype=np.float64),
                )
                and np.array_equal(
                    np.asarray(existing.get("codebooks"), dtype=np.float64),
                    np.asarray(codebooks, dtype=np.float64),
                )
            )
            if not same:
                raise ValueError(
                    "append refused: index metadata does not match the "
                    f"layout's sidecar at {path}/{_INDEX_SIDECAR} — codes "
                    "are only valid for the centroids/codebooks they were "
                    "encoded with; rebuild the layout instead of mixing"
                )
    assigned = with_ivf_assignment(df, vec_col, centroids, out_col=cell_col)
    if residual:
        src = with_ivf_residual(
            assigned, vec_col, centroids, cell_col, out_col="_res"
        )
        enc_col = "_res"
    else:
        src, enc_col = assigned, vec_col
    coded = pq_encode(src, enc_col, codebooks, out_col=code_col)
    if residual:
        coded = coded.drop("_res")
    if not keep_vector:
        coded = coded.drop(vec_col)
    # r14 review fix: with mode="ignore" an existing path means the data
    # write is a NO-OP — stamping new metadata over it would be exactly
    # the mixed-codebook corruption the append guard refuses (old codes,
    # new sidecar, silent mis-ranking). Snapshot existence BEFORE the
    # write and skip the sidecar when ignore skipped the data.
    skip_sidecar = mode == "ignore" and _hadoop_exists(spark, path)
    coded.write.partitionBy(cell_col).mode(mode).parquet(path)
    if store_metadata and not skip_sidecar:
        write_ivf_pq_metadata(
            spark, path,
            centroids=centroids, codebooks=codebooks, residual=residual,
            keep_vector=keep_vector, id_col=id_col, vec_col=vec_col,
            cell_col=cell_col, code_col=code_col,
        )


_INDEX_SIDECAR = "_ifrit_index.json"


def _hadoop_exists(spark, path_str: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def _hadoop_write_text(spark, path_str: str, content: str) -> None:
    # single-FILE write through the Hadoop FileSystem API (py4j), so the
    # sidecar lands on whatever scheme the layout lives on (file/hdfs/
    # s3a) — a DataFrame .write.json would create a DIRECTORY of parts
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def _hadoop_read_text(spark, path_str: str) -> str:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        # readAllBytes (Java 11+; this repo runs on 17) — py4j COPIES
        # byte-array arguments, so the classic read(buf) loop would
        # never see the bytes land in a Python-side buffer
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def write_ivf_pq_metadata(
    spark,
    path: str,
    *,
    centroids: "np.ndarray",
    codebooks: "np.ndarray",
    residual: bool,
    keep_vector: bool,
    id_col: str,
    vec_col: str,
    cell_col: str,
    code_col: str,
) -> None:
    """Persist the index metadata INSIDE the layout (r14):
    `<path>/_ifrit_index.json` — underscore-prefixed, so every Spark
    file listing skips it exactly like _SUCCESS/_metadata and the data
    scans are unchanged. Codes are only valid for the centroids and
    codebooks they were computed from; storing them WITH the layout
    makes the index self-describing (`read_ivf_pq_index` →
    `ivf_pq_query`) instead of depending on the caller to carry two
    numpy arrays alongside a path. Size check: this is index metadata
    by construction — nlist·dim + m·k·sub doubles — the same thing the
    probe already ships in every query's Arrow closure."""
    import json as _json

    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    doc = {
        "format": "ifrit-ivf-pq-v1",
        "residual": bool(residual),
        "keep_vector": bool(keep_vector),
        "id_col": id_col,
        "vec_col": vec_col,
        "cell_col": cell_col,
        "code_col": code_col,
        "nlist": int(cents.shape[0]),
        "dim": int(cents.shape[1]),
        "m": int(books.shape[0]),
        "k": int(books.shape[1]),
        "centroids": cents.tolist(),
        "codebooks": books.tolist(),
    }
    _hadoop_write_text(
        spark, f"{path}/{_INDEX_SIDECAR}", _json.dumps(doc)
    )


def read_ivf_pq_index(spark, path: str) -> dict:
    """Load a self-describing at-rest index (r14): the layout's
    DataFrame plus its sidecar metadata. Returns {"df", "centroids",
    "codebooks", "residual", "keep_vector", "id_col", "vec_col",
    "cell_col", "code_col"} with the arrays round-tripped exactly
    (float64 JSON — test-pinned bit-equal)."""
    import json as _json

    doc = _json.loads(_hadoop_read_text(spark, f"{path}/{_INDEX_SIDECAR}"))
    if doc.get("format") != "ifrit-ivf-pq-v1":
        raise ValueError(
            f"unrecognized index sidecar format {doc.get('format')!r} "
            f"at {path}/{_INDEX_SIDECAR}"
        )
    return {
        "df": spark.read.parquet(path),
        "centroids": np.asarray(doc["centroids"], dtype=np.float64),
        "codebooks": np.asarray(doc["codebooks"], dtype=np.float64),
        "residual": doc["residual"],
        "keep_vector": doc["keep_vector"],
        "id_col": doc["id_col"],
        "vec_col": doc["vec_col"],
        "cell_col": doc["cell_col"],
        "code_col": doc["code_col"],
    }


def ivf_pq_query(
    spark,
    path: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    k: int = 10,
    nprobe: int = 4,
    overfetch: int = 4,
    pushdown_ids: bool = False,
) -> DataFrame:
    """One-call retrieval against a self-describing stored index (r14):
    read the sidecar, then run the right probe for what the layout
    holds — `ivf_pq_rerank_batch` (shortlist + exact rerank) when the
    vector column was stored (`keep_vector=True`), else the
    residual-ADC `ivf_pq_topk_residual_batch` (`overfetch` is then
    meaningless and ignored). Everything the manual path does —
    PartitionFilters cell pruning on every scan, candidate-sized
    rerank, optional shortlist-id pushdown — driven purely from the
    path (results ≡ the manual calls, test-pinned). Only residual
    layouts are currently routed (the write default); raw-code layouts
    raise rather than silently mis-rank."""
    return query_ivf_pq_index(
        read_ivf_pq_index(spark, path), queries, query_ids,
        k=k, nprobe=nprobe, overfetch=overfetch,
        pushdown_ids=pushdown_ids,
    )


def query_ivf_pq_index(
    idx: dict,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    k: int = 10,
    nprobe: int = 4,
    overfetch: int = 4,
    pushdown_ids: bool = False,
) -> DataFrame:
    """ivf_pq_query's routing half over an ALREADY-LOADED index dict
    (read_ivf_pq_index output) — for repeated querying (streaming
    micro-batches, recall sweeps), load the sidecar once and call this
    per batch instead of re-reading + re-parsing the full
    centroids/codebooks payload every time (r14 review fix)."""
    if not idx["residual"]:
        raise NotImplementedError(
            "ivf_pq_query routes residual layouts (the write_ivf_pq_"
            "partitioned default); probe raw-code layouts explicitly "
            "with ivf_pq_topk / pq_topk_batch over the stored frame"
        )
    if idx["keep_vector"]:
        return ivf_pq_rerank_batch(
            idx["df"], idx["id_col"], idx["vec_col"], idx["code_col"],
            queries, query_ids, idx["codebooks"], idx["centroids"],
            k=k, nprobe=nprobe, overfetch=overfetch,
            cell_col=idx["cell_col"], pushdown_ids=pushdown_ids,
        )
    return ivf_pq_topk_residual_batch(
        idx["df"], idx["id_col"], idx["code_col"], queries, query_ids,
        idx["codebooks"], idx["centroids"], k=k, nprobe=nprobe,
        cell_col=idx["cell_col"],
    )


def ivf_pq_index_recall(
    spark,
    path: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    k: int = 10,
    nprobe: int = 4,
    overfetch: int = 4,
    n_sample: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Measured recall@k of a self-describing stored index, from the
    path alone (r14): run `ivf_pq_query` at the given (nprobe,
    overfetch) and score it with `ann_recall_estimate(metric='l2')`
    against exact truth computed from the layout's OWN vectors — the
    operational "is this index still good enough" check the freshness
    story needs next to `ivf_cell_health` (health reads geometry drift;
    this reads the quantity you actually SLO). keep_vector layouts
    only: the exact truth needs the vectors."""
    idx = read_ivf_pq_index(spark, path)
    if not idx["keep_vector"]:
        raise ValueError(
            "ivf_pq_index_recall needs a keep_vector=True layout — "
            "exact ground truth is computed from the stored vectors"
        )
    # route over the already-loaded idx: one sidecar read per call, not
    # two (r14 review fix)
    approx = query_ivf_pq_index(
        idx, queries, query_ids, k=k, nprobe=nprobe, overfetch=overfetch
    )
    return ann_recall_estimate(
        idx["df"], idx["id_col"], idx["vec_col"], queries, query_ids,
        approx, k=k, n_sample=n_sample, seed=seed, metric="l2",
    )


def ivf_pq_advise_path(
    spark,
    path: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    k: int = 10,
    target_recall: float = 0.95,
    nprobes: Sequence[int] = (1, 2, 4, 8),
    overfetches: Sequence[int] = (1, 2, 4),
    alpha: float = 1.0,
    beta: float = 1.0,
    n_sample: int = 32,
    seed: int = 42,
) -> dict:
    """`ivf_pq_advise` from the path alone (r14): restore the frozen
    metadata from the layout's sidecar and sweep the joint (nprobe ×
    overfetch) grid against it — "what do I deploy for recall ≥ X on
    THIS stored index", one call, no caller-held arrays. keep_vector
    residual layouts only (the composed rerank path the grid builds)."""
    idx = read_ivf_pq_index(spark, path)
    if not idx["keep_vector"] or not idx["residual"]:
        raise ValueError(
            "ivf_pq_advise_path sweeps the composed rerank path — it "
            "needs a residual=True, keep_vector=True layout"
        )
    return ivf_pq_advise(
        idx["df"], idx["id_col"], idx["vec_col"], idx["code_col"],
        queries, query_ids, idx["codebooks"], idx["centroids"],
        k=k, target_recall=target_recall, nprobes=nprobes,
        overfetches=overfetches, alpha=alpha, beta=beta,
        n_sample=n_sample, seed=seed, cell_col=idx["cell_col"],
    )


def compact_ivf_pq_cells(
    spark,
    path: str,
    cells: Sequence[int] = None,
    cell_col: str = "ivf_cell",
    files_per_cell: int = 1,
) -> dict:
    """In-place small-file compaction for a write_ivf_pq_partitioned
    layout (r14) — the other half of the append-mode freshness price:
    every `mode="append"` batch adds files to its cells' partition
    directories, and a probe pays per-file open/footer cost for each.
    Rewrites each targeted cell's directory as `files_per_cell` files,
    DURABLY (r14 review fix): the replacement is first written complete
    to an underscore-prefixed temp dir beside the cell (invisible to
    every data listing), and only then swapped in with two filesystem
    metadata ops (delete old dir, rename temp) — the durable copy
    exists at every moment, so an executor loss mid-compaction can fail
    the job but cannot lose rows (the in-place overwrite this replaced
    held the only copy in executor-local checkpoint storage during the
    rewrite). Values, the hive layout, and probe plans
    (PartitionFilters) are unchanged (test-pinned); per-file parquet
    stats are rebuilt by the rewrite.

    `cells=None` compacts every cell found in the layout's listing (a
    metadata-only binaryFile pass). The loop is driver-side and
    per-cell — bounded by nlist, which is index metadata by
    construction; for very large nlist pass the hot subset (pick it
    from `ivf_cell_health` counts or the listing this function already
    does) rather than sweeping every cell each maintenance pass.
    Returns {cell: files_before}."""
    import re as _re

    listing = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path")
        .collect()
    )
    found: dict = {}
    pat = _re.compile(_re.escape(cell_col) + r"=(\d+)/")
    for row in listing:
        m = pat.search(row.path)
        if m:
            found[int(m.group(1))] = found.get(int(m.group(1)), 0) + 1
    targets = sorted(found) if cells is None else [
        int(c) for c in cells if int(c) in found
    ]
    jvm = spark._jvm
    fs_conf = spark._jsc.hadoopConfiguration()
    out = {}
    for c in targets:
        sub = f"{path}/{cell_col}={c}"
        tmp = f"{path}/_compact_tmp_{cell_col}={c}"
        (
            spark.read.parquet(sub)
            .coalesce(int(files_per_cell))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        sub_p = jvm.org.apache.hadoop.fs.Path(sub)
        tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
        fs = sub_p.getFileSystem(fs_conf)
        fs.delete(sub_p, True)
        if not fs.rename(tmp_p, sub_p):
            raise IOError(
                f"compact_ivf_pq_cells: rename {tmp} -> {sub} failed; "
                "the compacted data is intact at the temp path"
            )
        out[c] = found[c]
    return out


def ivf_cell_health(
    df: DataFrame,
    centroids: "np.ndarray",
    cell_col: str = "ivf_cell",
    vec_col: str = None,
) -> DataFrame:
    """Per-cell freshness/skew diagnostics for a stored IVF(-PQ) layout
    (r14) — the measurement half of the index-maintenance story.
    `write_ivf_pq_partitioned(..., mode="append")` keeps an at-rest
    index FRESH by encoding new rows with the layout's frozen
    centroids+codebooks (codes are only valid for the metadata they
    were computed from, so append never retrains); the price is drift:
    as the corpus distribution moves, rows land ever farther from their
    frozen centroids and ADC recall decays. This returns, per cell:

      n_rows                    — probe-cost skew (a hot cell makes
                                  every nprobe that touches it pay);
      avg/max_residual_sq       — with `vec_col` (a keep_vector layout
                                  or pre-write frame): the mean/max
                                  squared distance to the FROZEN
                                  centroid, the drift proxy to compare
                                  against its build-time value.

    Rebuild policy, measured not guessed: record avg_residual_sq at
    build time; when the appended corpus's value (or ann_recall_estimate
    against exact truth) breaches your SLO, re-run ivf_centroids_refine
    + re-encode. One corpus scan, map-side partial aggregation, one
    nlist-row exchange — at 100 TB this is the cheapest full-index
    statistic there is; codes-only layouts (keep_vector=False) get the
    count/skew half from (cell) alone with ReadSchema pruned to the
    partition column."""
    cents = np.asarray(centroids, dtype=np.float64)
    if vec_col is None:
        return (
            df.groupBy(cell_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
            .orderBy(cell_col)
        )
    center = F.element_at(V.lit_matrix(cents), F.col(cell_col) + 1)
    rsq = F.aggregate(
        F.zip_with(
            F.col(vec_col), center, lambda x, y: (x.cast("double") - y) ** 2
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        df.withColumn("_rsq", rsq)
        .groupBy(cell_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.avg("_rsq").alias("avg_residual_sq"),
            F.max("_rsq").alias("max_residual_sq"),
        )
        .orderBy(cell_col)
    )


def embedding_contamination(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bench: DataFrame,
    bench_id_col: str,
    bench_vec_col: str,
    threshold: float = 0.95,
    max_bench: int = 100_000,
) -> DataFrame:
    """Benchmark decontamination at the EMBEDDING level (r12) — the
    cosine complement to contamination.ngram_contamination: for every
    corpus row, its max cosine against the benchmark embedding set and
    the benchmark item achieving it. Returns (id, nearest_bench_id,
    max_sim, contaminated) with contaminated = max_sim >= threshold;
    ties on max_sim resolve to the LOWEST bench id (deterministic).

    Scale shape: benchmark sets are SMALL by definition, so the bench
    matrix is driver-collected (guarded by `max_bench` — past it this
    is no longer a contamination screen; use knn_join_lsh) and ships in
    the Arrow closure; ONE corpus pass does a per-batch matmul and
    keeps only the row-wise max — nothing corpus-sized shuffles, the
    output is one narrow row per input row. Zero-norm vectors (either
    side) contribute cosine 0, the suite-wide convention."""
    rows = (
        bench.select(bench_id_col, bench_vec_col)
        .orderBy(F.col(bench_id_col).asc())
        .limit(int(max_bench) + 1)
        .collect()
    )
    if len(rows) > max_bench:
        raise ValueError(
            f"bench has more than max_bench={max_bench} rows — an "
            "embedding contamination screen expects a benchmark-sized "
            "right side; for corpus-sized pairs use knn_join_lsh or "
            "embedding_neardup_pairs(tables=...)"
        )
    if not rows:
        raise ValueError("bench is empty")
    bids = np.asarray([r[0] for r in rows], dtype=np.int64)
    bm = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    bnorm = np.linalg.norm(bm, axis=1)
    bnorm[bnorm == 0] = 1.0
    thr = float(threshold)
    id_type = dict(df.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_type}, nearest_bench_id long, max_sim double, "
        "contaminated boolean"
    )

    def screen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy())
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            sims = (m @ bm.T) / norms[:, None] / bnorm[None, :]  # (B, nb)
            best = sims.argmax(axis=1)  # first max = lowest bench id
            mx = sims[np.arange(len(pdf)), best]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "nearest_bench_id": bids[best],
                    "max_sim": mx,
                    "contaminated": mx >= thr,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(screen, out_schema)


# ---------------------------------------------------------------------------
# ANN recall-SLO parameter advisor (r13, VERDICT r12 #4)
# ---------------------------------------------------------------------------


def ann_advise(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    candidates: Sequence[tuple],
    k: int = 10,
    target_recall: float = 0.95,
    n_sample: int = 32,
    seed: int = 42,
    metric: str = "cosine",
) -> dict:
    """Pick the CHEAPEST index configuration meeting a recall SLO
    (VERDICT r12 #4): `ann_recall_estimate` measures recall; this walks
    an ordered candidate list and chooses instead of leaving the curve
    to a human.

    `candidates` is a cost-ASCENDING sequence of
    `(name, cost, build(df, queries, query_ids, k) -> approx frame)` —
    each build returning a (query_id, id, sim) frame for the default
    cosine metric, or (query_id, id, dist) with `metric="l2"` (the
    PQ/rerank tier — measured against exact l2_topk_batch truth) —
    cost is the caller's scan-work unit (nprobe for IVF, table count
    for multi-probe LSH, overfetch for PQ rerank; only its ORDER
    matters). The advisor evaluates candidates in cost order against
    the sampled brute-force truth and STOPS at the first one whose mean
    measured recall@k >= target_recall — under the standard monotone
    cost/recall trade-off that first hit is the cheapest passing
    config, and candidates past it are never built or measured. Each
    evaluation is one ann_recall_estimate pass (one corpus pass +
    metadata-sized join); the driver collects only n_sample recall rows
    per candidate.

    Returns {"chosen": {...} | None, "curve": [per-candidate measured
    points, in evaluation order], "target_recall", "k"} — chosen is
    None when no candidate meets the SLO (the curve then documents how
    far the sweep got; extend the candidate list or lower the target).
    Recall here is MEASURED on YOUR corpus sample, not modeled — the
    r11 finding that isotropic vs clustered corpora differ by >2x at
    the same parameters is exactly why this sweeps instead of
    computing a closed form.

    Cost model (r14, ADVICE r13): the brute-force ground truth is
    computed ONCE for the seeded query sample and collected (a bounded
    n_sample·k-row frame) before the sweep — candidates re-measure
    against the same local truth relation instead of re-paying the
    corpus pass per config; each build() also receives only the
    SAMPLED queries (recall is only ever measured on those), so a
    candidate's own corpus pass carries n_sample queries, not Q. Curve
    points record the UNROUNDED measured mean — the same value the SLO
    comparison uses, so a recorded point can never display a recall
    that appears to meet (or miss) the target it was adjudicated
    against."""
    cands = list(candidates)
    if not cands:
        raise ValueError("candidates must be non-empty")
    costs = [float(c[1]) for c in cands]
    if costs != sorted(costs):
        raise ValueError(
            "candidates must be in ascending cost order (the advisor's "
            f"early-stop relies on it; got costs {costs})"
        )
    sample_q, sample_ids = _sample_queries(
        *_query_batch(queries, query_ids), n_sample, seed
    )
    truth_kernel = cosine_topk_batch if metric == "cosine" else l2_topk_batch
    truth_frame = truth_kernel(df, id_col, vec_col, sample_q, sample_ids, k=k)
    # bounded: n_sample·k rows — pin it as a local relation so the
    # corpus pass runs exactly once for the whole sweep
    truth_local = df.sparkSession.createDataFrame(
        truth_frame.collect(), truth_frame.schema
    )
    curve = []
    chosen = None
    for name, cost, build in cands:
        approx = build(df, sample_q, sample_ids, k)
        rows = ann_recall_estimate(
            df, id_col, vec_col, sample_q, sample_ids, approx,
            k=k, n_sample=len(sample_ids), seed=seed, metric=metric,
            truth=truth_local,
        ).collect()
        mean = (
            sum(r.recall_micro for r in rows) / (1e6 * len(rows))
            if rows
            else 0.0
        )
        point = {
            "name": str(name),
            "cost": float(cost),
            "recall": mean,
        }
        curve.append(point)
        if mean >= target_recall:
            chosen = point
            break
    return {
        "chosen": chosen,
        "target_recall": float(target_recall),
        "k": int(k),
        "n_sample": int(n_sample),
        "curve": curve,
    }


def ivf_advise_nprobe(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    centroids: "np.ndarray",
    k: int = 10,
    target_recall: float = 0.95,
    nprobes: Sequence[int] = (1, 2, 4, 8, 16),
    n_sample: int = 32,
    seed: int = 42,
) -> dict:
    """IVF instantiation of ann_advise: sweep nprobe (cost = fraction
    of cells scanned, monotone in nprobe) and return the cheapest value
    meeting the recall SLO. The shipped answer to "what nprobe do I
    deploy for recall@k >= X on THIS corpus" — one bounded sweep, in
    the same units the at-rest layout prunes by (probed cells →
    PartitionFilters, write_ivf_pq_partitioned)."""
    cents = np.asarray(centroids, dtype=np.float64)
    probes = sorted({int(p) for p in nprobes})
    if not probes or probes[0] < 1:
        raise ValueError(f"nprobes must be positive (got {list(nprobes)})")

    def mk(p):
        def build(d, q, ids, kk):
            return ivf_topk_batch(
                d, id_col, vec_col, q, ids, cents, k=kk, nprobe=p
            )

        return build

    return ann_advise(
        df, id_col, vec_col, queries, query_ids,
        [(f"nprobe={p}", float(p), mk(p)) for p in probes],
        k=k, target_recall=target_recall, n_sample=n_sample, seed=seed,
    )


# ---------------------------------------------------------------------------
# Exact L2 batch kernel + batch PQ rerank (r13): the distance-tier loop
# ---------------------------------------------------------------------------


def l2_topk_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    k: int = 10,
) -> DataFrame:
    """Exact squared-L2 top-k per query for a BATCH of query vectors —
    the distance-metric twin of cosine_topk_batch, and the ground-truth
    kernel the PQ/IVF-PQ tier (which ranks by L2, not cosine) measures
    against. Same shape as the cosine kernel: query matrix in the Arrow
    closure, ONE ||x||² − 2·x·q + ||q||² evaluation per batch, the
    shared tie-exact partial top-k (`_make_topk_worker`, dist asc, id
    asc), one exchange of k rows per query per batch, WindowGroupLimit
    window. Returns (query_id, id, dist) with dist the exact squared L2
    distance."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    qm, qids = _query_batch(queries, query_ids)  # (Q, dim)
    qsq = (qm ** 2).sum(1)  # (Q,)
    allq = np.arange(len(qm))

    def blocks(pdf):
        import numpy as np

        m = np.stack(pdf[vec_col].to_numpy())  # (B, dim)
        yield pdf[id_col].to_numpy(), allq, (
            (m ** 2).sum(1)[:, None]
            - 2.0 * (m @ qm.T)
            + qsq[None, :]
        )  # (B, Q)

    return _topk_per_query(
        df.select(id_col, vec_col), id_col, "dist", k, qids, blocks
    )


def pq_topk_rerank_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    code_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    codebooks: "np.ndarray",
    k: int = 10,
    overfetch: int = 4,
    pushdown_ids: bool = False,
) -> DataFrame:
    """Batch ADC shortlist → exact re-check (r13): pq_topk_batch over
    the codes fetches k·overfetch candidates per query, then ONLY those
    (query, id) pairs' full vectors are joined back and re-ranked by
    the EXACT squared L2 distance — computed JVM-side by joining the
    query matrix in as a (query_id, qvec) frame (Q rows, broadcast by
    AQE) and folding zip_with squares. The rerank JOIN is
    candidate-sized; at the SCAN layer the default join-back streams
    the whole vector column past the broadcast hash — on the
    unpartitioned PQ tier there is no partition structure to prune by.
    `pushdown_ids=True` is the 100 TB recipe (r14, VERDICT r13 #3):
    the driver-bounded shortlist (k·overfetch·Q ids) is collected once
    and pushed as `id IN (...)` into the vector scan, which compiles
    to parquet PushedFilters and row-group pruning over a sorted or
    z-ordered layout (operators/layout.py `write_zordered`) —
    plan-pinned; results are identical either way (test-pinned). `df`
    must carry BOTH the vector and the code column (pq_encode output,
    or a write_ivf_pq_partitioned(keep_vector=True) layout). Returns
    (query_id, id, dist) exact, (dist asc, id asc) top-k per query —
    a 1-query batch equals pq_topk_rerank exactly (test-pinned).

    Recall contract is pq_topk_rerank's: exact within the shortlist; a
    true neighbor whose ADC rank fell past k·overfetch stays lost.
    `pq_advise_overfetch` picks the cheapest overfetch meeting a
    measured recall SLO against l2_topk_batch truth."""
    if overfetch < 1:
        raise ValueError(f"overfetch must be >= 1 (got {overfetch})")
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    qm, qids = _query_batch(queries, query_ids)
    cand = pq_topk_batch(
        df.select(id_col, code_col), id_col, code_col, qm, qids,
        codebooks, k=int(k) * int(overfetch),
    ).select("query_id", id_col)
    return _exact_l2_rerank(
        cand, df, id_col, vec_col, qm, qids, int(k),
        pushdown_ids=pushdown_ids,
    )


def _exact_l2_rerank(cand, df, id_col, vec_col, qm, qids, k,
                     pushdown_ids=False):
    """Shared exact-rerank tail: join the candidate (query_id, id)
    pairs back to their full vectors and to the query matrix (a Q-row
    frame, AQE-broadcastable), compute exact squared L2 JVM-side, keep
    the (dist asc, id asc) top-k per query. The JOIN is candidate-sized
    throughout; the SCAN side is what `pushdown_ids` governs.

    `pushdown_ids=False` (default): the vector side streams past a
    broadcast hash of the candidates — at the scan layer that is a full
    pass over the vector column (fine in-memory / post-cell-pruning;
    see ivf_pq_rerank_batch, whose probed-cells filter bounds it).

    `pushdown_ids=True` (r14, VERDICT r13 #3 — the documented 100 TB
    recipe for the UNPARTITIONED tier): the shortlist is driver-bounded
    (≤ k·overfetch·Q (query_id, id) pairs), so collect it ONCE, rebuild
    the candidate side as a local relation (plan-size bound: Q·k·
    overfetch rows — e.g. 64 queries · k=10 · overfetch=4 = 2,560), and
    push `id IN (...)` into the vector-side scan. Over a sorted or
    z-ordered layout (operators/layout.py `write_zordered`) the IN
    lands in parquet PushedFilters and row-group min/max stats skip
    everything outside the shortlist — the exact rerank then READS
    candidate-sized, not corpus-sized."""
    if pushdown_ids:
        pairs = cand.select("query_id", id_col).collect()
        ids = sorted({r[1] for r in pairs})
        cand = df.sparkSession.createDataFrame(
            pairs, f"query_id long, {id_col} {dict(df.dtypes)[id_col]}"
        )
        df = df.filter(F.col(id_col).isin(ids))
    qdf = df.sparkSession.createDataFrame(
        [(int(qids[i]), [float(x) for x in qm[i]]) for i in range(len(qids))],
        "query_id long, _qv array<double>",
    )
    dist = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("_qv"),
            lambda x, y: (x.cast("double") - y) ** 2,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return _rank_per_query(
        cand.join(df.select(id_col, vec_col), id_col)
        .join(qdf, "query_id")
        .select("query_id", F.col(id_col), dist.alias("dist")),
        id_col, "dist", k,
    )


def ivf_pq_rerank_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    code_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    codebooks: "np.ndarray",
    centroids: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
    overfetch: int = 4,
    cell_col: str = "ivf_cell",
    pushdown_ids: bool = False,
) -> DataFrame:
    """The COMPOSED billion-scale query path, end to end (r13): IVF
    cell pruning (PartitionFilters over a write_ivf_pq_partitioned
    layout) → residual-ADC shortlist from the stored codes
    (ivf_pq_topk_residual_batch, k·overfetch per query) → exact
    squared-L2 re-rank of ONLY the shortlist (the shared
    candidate-sized join tail). `df` is the keep_vector=True at-rest
    layout (or any frame carrying id + cell + code + vector): the ADC
    stage reads (id, cell, code) from the probed cells' files only, and
    the rerank stage reads the vector column from the probed cells'
    files only — BOTH scans carry the probed-cells PartitionFilters
    over the stored layout (plan-pinned per scan, r14). With nprobe
    covering every cell and overfetch covering the corpus this equals
    l2_topk_batch exactly (test-pinned); recall in between is measured,
    not modeled — `ann_recall_estimate(metric='l2')` over this frame,
    or the r13/r14 attestation's recovery curve at 200k.

    `pushdown_ids=True` (r14) composes BOTH prunings on the rerank
    side: the probed-cells PartitionFilter skips unprobed cells' files,
    and the collected shortlist ids (k·overfetch·Q, driver-bounded)
    land as `id IN (...)` in PushedFilters for row-group pruning
    WITHIN the probed cells — the deepest read the layout supports.
    Worth it when the batch's probed-cell union is wide (many diverse
    queries) but the shortlist is still narrow."""
    if overfetch < 1:
        raise ValueError(f"overfetch must be >= 1 (got {overfetch})")
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    qm, qids = _query_batch(queries, query_ids)
    cand = ivf_pq_topk_residual_batch(
        df.select(id_col, cell_col, code_col), id_col, code_col, qm, qids,
        codebooks, centroids, k=int(k) * int(overfetch), nprobe=nprobe,
        cell_col=cell_col,
    ).select("query_id", id_col)
    # r14 (VERDICT r13 #1): candidates can only come from probed cells,
    # so filtering the rerank side by the same cell union is
    # semantically a no-op — but over a write_ivf_pq_partitioned layout
    # it compiles to PartitionFilters on the WIDE vector-column scan,
    # which otherwise lists and reads EVERY cell's files (a full corpus
    # pass over the widest column to rerank k·overfetch·Q rows). Same
    # THE SAME _probe_cells_batch the shortlist stage uses — one
    # implementation, so the two stages cannot drift (r14 review fix).
    cents = np.asarray(centroids, dtype=np.float64)
    probe = _probe_cells_batch(qm, cents, nprobe)
    probed = sorted({int(c) for c in probe.ravel()})
    rerank_src = df.filter(F.col(cell_col).isin(probed))
    return _exact_l2_rerank(
        cand, rerank_src, id_col, vec_col, qm, qids, int(k),
        pushdown_ids=pushdown_ids,
    )


def pq_advise_overfetch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    code_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    codebooks: "np.ndarray",
    k: int = 10,
    target_recall: float = 0.95,
    overfetches: Sequence[int] = (1, 2, 4, 8),
    n_sample: int = 32,
    seed: int = 42,
) -> dict:
    """PQ-rerank instantiation of ann_advise (the VERDICT r12 #4
    "rerank-multiple" axis): sweep the exact-rerank overfetch (cost =
    shortlist width k·overfetch, monotone) and return the cheapest
    value whose MEASURED recall@k against exact l2_topk_batch truth
    meets the SLO — the shipped answer to "what overfetch recovers the
    r12 attestation's ADC quantization loss on THIS corpus". `df`
    carries vector + code columns (pq_encode output or a
    keep_vector=True at-rest layout)."""
    books = np.asarray(codebooks, dtype=np.float64)
    ofs = sorted({int(o) for o in overfetches})
    if not ofs or ofs[0] < 1:
        raise ValueError(
            f"overfetches must be positive (got {list(overfetches)})"
        )

    def mk(o):
        def build(d, q, ids, kk):
            return pq_topk_rerank_batch(
                d, id_col, vec_col, code_col, q, ids, books,
                k=kk, overfetch=o,
            )

        return build

    return ann_advise(
        df, id_col, vec_col, queries, query_ids,
        [(f"overfetch={o}", float(o), mk(o)) for o in ofs],
        k=k, target_recall=target_recall, n_sample=n_sample, seed=seed,
        metric="l2",
    )


def ivf_pq_advise(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    code_col: str,
    queries: "np.ndarray",
    query_ids: Sequence[int],
    codebooks: "np.ndarray",
    centroids: "np.ndarray",
    k: int = 10,
    target_recall: float = 0.95,
    nprobes: Sequence[int] = (1, 2, 4, 8),
    overfetches: Sequence[int] = (1, 2, 4),
    alpha: float = 1.0,
    beta: float = 1.0,
    n_sample: int = 32,
    seed: int = 42,
    cell_col: str = "ivf_cell",
) -> dict:
    """JOINT (nprobe × overfetch) advisor for the composed stored path
    (r14, VERDICT r13 #5). `ivf_advise_nprobe` and `pq_advise_overfetch`
    each sweep one axis, but `ivf_pq_rerank_batch`'s real deployment
    question is 2-D: files listed (nprobe/nlist of the layout) and
    full-width rows reranked (k·overfetch·Q) trade off at equal recall.
    This sweeps the grid in ascending COMPOSITE cost

        cost(p, o) = alpha · p / nlist  +  beta · k · o · Q

    (alpha prices a fraction of the corpus' files listed+scanned at
    code width; beta prices one full-width vector row reranked; Q =
    len(query_ids), the production batch — set the ratio to YOUR
    storage economics; ties broken (nprobe, overfetch) ascending) and
    returns the first — hence cheapest evaluated — candidate whose
    MEASURED recall@k against exact l2_topk_batch truth meets the SLO.
    ann_advise's single-truth-pass machinery does the measuring, so the
    whole grid costs one brute-force pass plus one composed-path build
    per candidate actually evaluated (early stop skips the rest).
    Curve points carry the parsed (nprobe, overfetch) alongside
    ann_advise's (name, cost, recall)."""
    books = np.asarray(codebooks, dtype=np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    nlist = len(cents)
    n_queries = len(list(query_ids))
    ps = sorted({int(p) for p in nprobes})
    ofs = sorted({int(o) for o in overfetches})
    if not ps or ps[0] < 1:
        raise ValueError(f"nprobes must be positive (got {list(nprobes)})")
    if not ofs or ofs[0] < 1:
        raise ValueError(
            f"overfetches must be positive (got {list(overfetches)})"
        )

    def mk(p, o):
        def build(d, q, ids, kk):
            return ivf_pq_rerank_batch(
                d, id_col, vec_col, code_col, q, ids, books, cents,
                k=kk, nprobe=p, overfetch=o, cell_col=cell_col,
            )

        return build

    grid = sorted(
        (
            (
                float(alpha) * p / nlist
                + float(beta) * int(k) * o * n_queries,
                p,
                o,
            )
            for p in ps
            for o in ofs
        ),
    )
    cands = [
        (f"nprobe={p},overfetch={o}", cost, mk(p, o)) for cost, p, o in grid
    ]
    out = ann_advise(
        df, id_col, vec_col, queries, query_ids, cands,
        k=k, target_recall=target_recall, n_sample=n_sample, seed=seed,
        metric="l2",
    )
    params = {f"nprobe={p},overfetch={o}": (p, o) for _, p, o in grid}
    for point in out["curve"]:
        point["nprobe"], point["overfetch"] = params[point["name"]]
    if out["chosen"] is not None:
        out["chosen"]["nprobe"], out["chosen"]["overfetch"] = params[
            out["chosen"]["name"]
        ]
    return out
